package graft

import org.apache.spark.sql.functions._

import graft.ops.{StreamingOps, TextOps}

/** Round-10 operators: HTML → text extraction (markup stripping) and the
  * streaming windowed histogram quantile. */
class MarkupQuantileSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = Scratch.dir("graft-markup").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("markup strip: script contents drop, tag-delimited text survives") {
    // doc 15 hits BOTH plants (script %3, ad %5); doc 7 hits neither
    val dir = docsDir(Seq(
      (15L, "real body text", "en", "srcA", 14L),
      (7L, "other words", "en", "srcB", 11L)))
    val rows = TextOps.markupStrip(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val (tags15, len15, clean15) = rows(15L)
    // script body (incl. "track(15);") gone entirely; nav/ad/footer text
    // survives AS TEXT — extraction strips markup, not boilerplate
    assert(clean15 == "Home | About | srcA real body text BUY NOW!!! (c) 2026 srcA")
    assert(!clean15.contains("track"))
    // tags counted AFTER script removal: html,body,nav,/nav,p,/p,
    // div,/div,footer,/footer,/body,/html = 12
    assert(tags15 == 12L)
    assert(len15 == clean15.length.toLong)
    val (tags7, _, clean7) = rows(7L)
    assert(clean7 == "Home | About | srcB other words (c) 2026 srcB")
    assert(tags7 == 10L) // no script, no ad div
  }

  test("markup strip: two script blocks stay separate (non-greedy)") {
    // a text that ITSELF carries a second script block: greedy matching
    // would eat the real words between the two blocks
    val dir = docsDir(Seq(
      (3L, "keep <script>evil()</script> tail", "en", "srcC", 33L)))
    val clean = TextOps.markupStrip(spark, dir).collect()(0).getString(3)
    assert(clean.contains("keep") && clean.contains("tail"))
    assert(!clean.contains("track(3)") && !clean.contains("evil"))
  }

  test("stream quantile: equals the batch histogram pick on sf0.001") {
    val streamed = StreamingOps.streamQuantile(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // batch replay of the same histogram + all-integer cumulative pick
    val byWs = org.apache.spark.sql.expressions.Window.partitionBy("ws")
    val batch = Tables(spark, sf, "events")
      .select(date_trunc("hour", col("ts")).as("ws"),
        floor(col("value") / StreamingOps.QuantileBucketWidth).cast("long").as("bucket"))
      .groupBy("ws", "bucket").agg(count(lit(1)).as("bn"))
      .withColumn("cum", sum(col("bn")).over(byWs.orderBy("bucket")))
      .withColumn("n", sum(col("bn")).over(byWs))
      .groupBy(col("ws"), col("n"))
      .agg(min(when(col("cum") * 2 >= col("n"), col("bucket"))).as("b50"),
        min(when(col("cum") * 10 >= col("n") * 9, col("bucket"))).as("b90"),
        min(when(col("cum") * 100 >= col("n") * 99, col("bucket"))).as("b99"))
      .select(col("ws"), col("n"),
        (col("b50") * StreamingOps.QuantileBucketWidth).as("p50_lo"),
        (col("b90") * StreamingOps.QuantileBucketWidth).as("p90_lo"),
        (col("b99") * StreamingOps.QuantileBucketWidth).as("p99_lo"))
      .orderBy("ws")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    // percentile estimates are ordered and on-grid
    streamed.foreach { case (_, _, p50, p90, p99) =>
      assert(p50 <= p90 && p90 <= p99)
      assert(p50 % StreamingOps.QuantileBucketWidth == 0.0)
    }
  }

  test("stream drift: equals the batch pairing replay; verdict is the integer rule") {
    val rows = StreamingOps.streamDrift(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    // batch replay: same histogram, same adjacent-window L1
    val hist = Tables(spark, sf, "events")
      .select(date_trunc("hour", col("ts")).as("ws"),
        floor(col("value") / StreamingOps.QuantileBucketWidth)
          .cast("long").as("bucket"))
      .groupBy("ws", "bucket").agg(count(lit(1)).as("bn"))
    val totals = hist.groupBy(col("ws")).agg(sum(col("bn")).as("n"))
    val pairs = totals.as("a").join(totals.as("b"),
        col("b.ws") === col("a.ws") + expr("INTERVAL 1 HOUR"))
      .select(col("a.ws").as("ws"), col("b.ws").as("ws_next"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
    val contrib = hist
      .select(col("ws"), col("bucket"), col("bn").as("ba"), lit(0L).as("bb"))
      .unionByName(hist.select((col("ws") - expr("INTERVAL 1 HOUR")).as("ws"),
        col("bucket"), lit(0L).as("ba"), col("bn").as("bb")))
      .groupBy(col("ws"), col("bucket"))
      .agg(sum(col("ba")).as("bn_a"), sum(col("bb")).as("bn_b"))
    val batch = contrib.join(pairs, "ws")
      .groupBy(col("ws"), col("ws_next"), col("n_a"), col("n_b"))
      .agg(sum(abs(col("bn_a") * col("n_b") - col("bn_b") * col("n_a")))
        .as("l1_num"))
      .withColumn("drifted", col("l1_num") * lit(2L) > col("n_a") * col("n_b"))
      .orderBy("ws")
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.toSeq == batch.toSeq)
    // the verdict column IS the integer rule, row by row
    rows.foreach { case (_, _, na, nb, l1, drifted) =>
      assert(drifted == (l1 * 2 > na * nb))
      assert(l1 >= 0 && l1 <= 2 * na * nb) // L1 upper bound
    }
  }
}
