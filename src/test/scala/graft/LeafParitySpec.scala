package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col

import graft.table._

/** The two leaves of a table scan return the same rows: a file group
  * within the leaf bound is read on the driver into a local relation,
  * any other group (or every group, with Spark's vectorized reader off)
  * through a manifest-built file relation. Each leg reads one table
  * through both and compares every column, the position and lineage
  * columns included. */
class LeafParitySpec extends SparkSpec {

  private def tmp(): String = Scratch.dir("graft-leaf").resolve("t").toString

  private def leaves(df: DataFrame): (Int, Int) = {
    val ls = df.queryExecution.analyzed.collectLeaves()
    (ls.count(_.isInstanceOf[LocalRelation]), ls.count(_.isInstanceOf[LogicalRelation]))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  /** The rows of `read` on the driver leaf (`groups` local relations and
    * no file relation), equal to its rows on the Spark leaf. */
  private def parity(groups: Int)(read: => DataFrame): Seq[String] = {
    val onDriver = read
    assert(leaves(onDriver) == (groups, 0), onDriver.queryExecution.analyzed.treeString)
    val want = rows(onDriver)
    withSparkLeaf {
      val onSpark = read
      assert(leaves(onSpark) == (0, groups), onSpark.queryExecution.analyzed.treeString)
      assert(rows(onSpark) == want)
    }
    want
  }

  test("rows, _gp positions, _row_id and _last_updated_sequence_number agree on both leaves") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, v string")
    t.append((0L until 40L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    t.append((40L until 90L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(2))
    t.update("k % 9 = 0", Map("v" -> "concat(v, '!')"))                 // lineage materialized
    t.update("k % 11 = 0", Map("v" -> "'mor'"), WriteMode.MergeOnRead)
    t.delete("k % 7 = 0", WriteMode.MergeOnRead)
    t.delete("k % 5 = 0", WriteMode.DeletionVector)
    t.deleteByKeys(Seq(13L, 61L).toDF("k"))
    val all = parity(1)(t.scan(withLineage = true, withPos = true))
    assert(all.size == t.scan().count())
    assert(all.exists(_.startsWith("18|v18!|")) && all.exists(_.startsWith("22|mor|")))
    assert(!all.exists(r => r.startsWith("14|") || r.startsWith("15|") || r.startsWith("61|")))
    // a pruned point read and the ordinal of the same row
    val point = parity(1)(t.scan(filter = Some("k = 43"), withLineage = true, withPos = true))
    assert(point.size == 1 && all.contains(point.head))
  }

  test("a name-mapped add_files file with INT96 timestamps reads alike on both leaves") {
    import spark.implicits._
    val ext = Scratch.dir("graft-leaf-int96").resolve("ext").toString
    withConf("spark.sql.parquet.outputTimestampType", "INT96") {
      Seq((1L, "2024-03-01 10:00:00"), (2L, "1999-12-31 23:59:59.123456"), (3L, null))
        .toDF("id", "ts").select(col("id"), col("ts").cast("timestamp").as("ts"))
        .coalesce(1).write.parquet(ext)
    }
    val part = new java.io.File(ext).listFiles().find(_.getName.endsWith(".parquet")).get
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toURI), spark.sessionState.newHadoopConf()))
    try assert(footer.getFileMetaData.getSchema.getFields.get(1).asPrimitiveType
      .getPrimitiveTypeName.name == "INT96")
    finally footer.close()
    val t = GraftTable.create(spark, tmp(), "id bigint, ts timestamp")
    t.addFiles(ext)
    assert(t.liveFiles().forall(_.nameMapped))
    val got = parity(1)(t.scan(withLineage = true, withPos = true))
    assert(got.map(_.split('|').take(2).mkString("|")) ==
      Seq("1|2024-03-01 10:00:00.0", "2|1999-12-31 23:59:59.123456", "3|null"))
  }

  test("a schema-evolved table (a defaulted column added, int promoted to bigint) reads alike") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "id bigint, n int")
    t.append(Seq((1L, 10), (2L, 20)).toDF("id", "n"))
    t.addColumn("c", "string", Some("'dflt'"))
    t.promoteType("n", "bigint")
    t.append(Seq((3L, 3000000000L, "x")).toDF("id", "n", "c"))
    t.delete("id = 2", WriteMode.MergeOnRead)
    // one group per schema the files were written under
    assert(parity(2)(t.scan()) == Seq("1|10|dflt", "3|3000000000|x"))
  }

  test("a nested-type group keeps the Spark leaf") {
    val t = GraftTable.create(spark, tmp(), "id bigint, s struct<a: int, b: string>")
    t.append(spark.sql("SELECT 1L AS id, named_struct('a', 1, 'b', 'x') AS s"))
    val df = t.scan()
    assert(leaves(df) == (0, 1), df.queryExecution.analyzed.treeString)
    assert(rows(df) == Seq("1|[1,x]"))
  }

  test("a merge-on-read delete written from a driver-leaf scan reads back in the third reader") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, status string, total double",
      partitionBy = Seq("bucket(2, id)"))
    t.append((0L until 60L).map(i => (i, s"s${i % 3}", i * 1.5)).toDF("id", "status", "total"))
    // the positions the delete writes come from this scan (both bucket
    // files in one local relation)
    assert(leaves(t.scan(filter = Some("id % 4 = 1"), withPos = true)) == (1, 0))
    t.delete("id % 4 = 1", WriteMode.MergeOnRead)
    assert(t.liveFiles().exists(_.fileType == "posdel"))
    val nat = t.scan().orderBy("id").collect().toSeq
    assert(nat.size == 45)
    val py = spark.read.parquet(graft.ops.Interop.runExtReader(loc)).orderBy("id").collect().toSeq
    assert(py == nat)
  }

  test("after a commit, a fresh driver-leaf scan is not served from the cached stale scan") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, v string")
    t.append((0L until 30L).map(k => (k, s"v$k")).toDF("k", "v"))
    val cached = t.scan().cache()
    try {
      assert(cached.count() == 30)
      // the same files plan over the cache: local relations compare by content
      assert(t.scan().queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r }.isDefined)
      for (commit <- Seq[() => Unit](
          () => t.delete("k = 3", WriteMode.DeletionVector),
          () => t.append(Seq((100L, "new")).toDF("k", "v")),
          () => t.update("k = 4", Map("v" -> "'upd'")))) {
        commit()
        val fresh = t.scan()
        assert(fresh.queryExecution.withCachedData
          .collectFirst { case r: InMemoryRelation => r }.isEmpty,
          fresh.queryExecution.withCachedData.treeString)
      }
      assert(rows(t.scan()) == rows(withSparkLeaf(t.scan())))
      assert(rows(t.scan().filter(col("k").isin(3L, 4L, 100L))) == Seq("100|new", "4|upd"))
    } finally cached.unpersist(blocking = true)
  }
}
