package graft

import org.apache.spark.sql.functions._

import graft.functions.TopKAgg
import graft.ops.TextOps

/** Round-10 operators: the bounded top-k aggregate (streaming rank),
  * domain-frequent-segment boilerplate removal, and the HLL register
  * rollup's merge-equals-single-pass law. */
class RankBoilerSpec extends SparkSpec {
  import spark.implicits._

  test("hll rollup: merged '(all)' registers equal the single-pass global sketch") {
    val all = ops.Sketches.hllRollup(spark, sf)
      .filter(col("grain") === "(all)").collect()(0)
    // the same global sketch via the Catalyst aggregate in one direct pass
    val direct = Tables(spark, sf, "events")
      .agg(graft.functions.HllNdvAgg.hllNdv(col("user_id")).as("sk"))
      .select(col("sk.n_registers"), col("sk.t"), col("sk.ndv_est"))
      .collect()(0)
    assert(all.getLong(1) == direct.getLong(0)) // n_registers
    assert(all.getLong(2) == direct.getLong(1)) // t
    assert(all.getDouble(3) == direct.getDouble(2)) // ndv_est, bit-exact
  }

  test("graft_top_k: k-bound, ordering, and tie-break by lower id") {
    val df = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0), (5L, 7.0), (6L, 7.0)
    ).toDF("id", "v")
    val out = df.agg(TopKAgg.topK(col("v"), col("id"), 3).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.rank"), col("t.id"), col("t.value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // ties at 9.0 and 7.0 break by LOWER id; only 3 entries survive
    assert(out.toSeq == Seq((1L, 2L, 9.0), (2L, 3L, 9.0), (3L, 5L, 7.0)))
  }

  test("graft_top_k: merge across partitions equals single-partition result") {
    val rows = (1L to 500L).map(i => (i, ((i * 2654435761L) % 1000L).toDouble))
    val one = rows.toDF("id", "v").coalesce(1)
      .agg(TopKAgg.topK(col("v"), col("id"), 5).as("top")).collect()(0).getSeq[Any](0)
    val many = rows.toDF("id", "v").repartition(7)
      .agg(TopKAgg.topK(col("v"), col("id"), 5).as("top")).collect()(0).getSeq[Any](0)
    assert(one == many)
    assert(one.size == 5)
  }

  test("graft_top_k: SQL surface matches the Column API") {
    graft.functions.GraftFunctions.register(spark)
    Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0))
      .toDF("id", "v").createOrReplaceTempView("tk_sql")
    val viaSql = spark.sql(
      "SELECT graft_top_k(v, id, 2) AS top FROM tk_sql").collect()(0).getSeq[Any](0)
    val viaCol = spark.table("tk_sql")
      .agg(TopKAgg.topK(col("v"), col("id"), 2).as("top")).collect()(0).getSeq[Any](0)
    assert(viaSql == viaCol && viaSql.size == 2)
  }

  test("graft_top_k: nulls skipped; group smaller than k emits all its rows") {
    val out = Seq((1L, Some(3.0)), (2L, None), (3L, Some(8.0)))
      .toDF("id", "v")
      .agg(TopKAgg.topK(col("v"), col("id"), 10).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id")).as[Long].collect()
    assert(out.toSeq == Seq(3L, 1L))
  }

  test("boilerplate: df-threshold drops ALL occurrences, scoped per source") {
    val dir = Scratch.dir("graft-boiler").toString
    Seq(
      (1L, "a b c d x1 x2 x3 x4", "en", "srcA", 19L),
      (2L, "a b c d y1 y2 y3 y4", "en", "srcA", 19L),
      (3L, "a b c d", "en", "srcA", 7L),
      (4L, "a b c d z1 z2 z3 z4", "en", "srcB", 19L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextOps.boilerplate(spark, dir)
      .select("doc_id", "n_seg", "n_boiler", "clean_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // "a b c d" hits df=2 in srcA: BOTH docs lose it (no first-wins
    // survivor); doc 3 is pure template and drops from the clean corpus;
    // srcB's single occurrence is under ITS domain threshold and survives.
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, "x1 x2 x3 x4"),
      (2L, 2L, 1L, "y1 y2 y3 y4"),
      (4L, 2L, 0L, "a b c d z1 z2 z3 z4")))
  }

  test("graft_top_k SQL surface: int inputs implicitly cast; bad k is an analysis-time error") {
    graft.functions.GraftFunctions.register(spark)
    Seq((1, 5), (2, 9), (3, 9), (4, 1))
      .toDF("id", "v").createOrReplaceTempView("tk_cast")
    // int value / int id analyze to casts (ImplicitCastInputTypes), not
    // an executor-side ClassCastException
    val out = spark.sql("SELECT graft_top_k(v, id, 2) AS top FROM tk_cast")
      .select(explode(col("top")).as("t"))
      .select(col("t.id"), col("t.value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == Seq((2L, 9.0), (3L, 9.0)))
    // non-literal, non-integral, and non-positive k: descriptive errors
    // at registration/analysis, never a runtime cast failure
    def failsWith(sql: String, needle: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      assert(e.getMessage.contains(needle),
        s"expected '$needle' in: ${e.getMessage}")
    }
    failsWith("SELECT graft_top_k(v, id, v) FROM tk_cast", "literal")
    failsWith("SELECT graft_top_k(v, id, 'two') FROM tk_cast", "integral")
    failsWith("SELECT graft_top_k(v, id, 0) FROM tk_cast", "positive")
  }

  test("text broadcast gate: fallback path (bound 0) matches the broadcast path") {
    // the data-dependent small sides (frequent-segment set, vocabulary DF)
    // broadcast only under the row bound; past it the SAME join runs
    // shuffled — results must be identical on both paths
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val boilerB = canon(TextOps.boilerplate(spark, sf))
    val keywordB = canon(TextOps.keywordTerms(spark, sf))
    val bm25B = canon(TextOps.bm25(spark, sf))
    sys.props("graft.text.bcast.rows") = "0"
    try {
      assert(canon(TextOps.boilerplate(spark, sf)) == boilerB)
      assert(canon(TextOps.keywordTerms(spark, sf)) == keywordB)
      assert(canon(TextOps.bm25(spark, sf)) == bm25B)
    } finally sys.props.remove("graft.text.bcast.rows")
  }

  test("boilerplate: sf0.001 output is internally consistent") {
    val out = ops.TextOps.boilerplate(spark, sf).cache()
    val bad = out.filter(col("n_boiler") >= col("n_seg")).count()
    assert(bad == 0) // fully-templated docs must be absent
    // clean_text segment count equals n_seg - n_boiler
    val mismatch = out.filter(
      size(split(col("clean_text"), " ")) >
        (col("n_seg") - col("n_boiler")) * TextOps.BoilerSegWords).count()
    assert(mismatch == 0)
    out.unpersist()
    ()
  }
}
