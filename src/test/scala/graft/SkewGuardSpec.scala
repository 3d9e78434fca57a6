package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Falsifies the hot-list skew guard's two claims (Similarity.scala):
  * the CMS probe DETECTS a planted corpus-fraction-hot list, and the
  * salted join BOUNDS the hot key's max partition while producing the
  * exact same rows as the unsalted join. */
class SkewGuardSpec extends SparkSpec {

  // planted assignment table: 100 lists, ~uniform background, list 7
  // holds 40% of all assignments (the dense-cluster collapse)
  private val Lists = 100
  private val N = 10000
  private def planted() = spark.range(N).select(
    col("id"),
    when(col("id") < N * 2 / 5, lit(7))
      .otherwise(pmod(col("id") * 37 + 11, lit(Lists)).cast("int")).as("bucket"))

  test("CMS probe detects the planted hot list and sizes its salts") {
    val hot = Similarity.hotListSalts(planted().select("bucket"), "bucket",
      N.toLong, Lists)
    assert(hot.contains(7), s"list 7 holds 40% of rows and must be flagged: $hot")
    // ~4000 rows vs mean 100 → the cap rules: MaxSalts-way split
    assert(hot(7) == Similarity.MaxSalts, s"salt count: $hot")
    // background lists sit near the mean and must NOT be salted
    assert(hot.keySet.forall(_ == 7), s"only the planted list is hot: $hot")
    // a uniform table yields an empty plan (the everyday fast path)
    val uniform = spark.range(N).select(
      pmod(col("id") * 37 + 11, lit(Lists)).cast("int").as("bucket"))
    assert(Similarity.hotListSalts(uniform, "bucket", N.toLong, Lists).isEmpty)
  }

  test("salted join: results identical to the plain join, hot partition bounded") {
    val asg = planted()
    val left = asg.select(col("bucket"), col("id").as("q_id"))
    val right = asg.select(col("bucket"), col("id").as("n_id"))
      // thin the build side so the planted 4000x4000 hot pair product
      // stays spec-sized; skew shape is preserved
      .filter(col("n_id") % 20 === 0)
    val hot = Similarity.hotListSalts(asg.select("bucket"), "bucket",
      N.toLong, Lists)
    val plain = left.join(right, "bucket")
      .select("bucket", "q_id", "n_id").collect().map(_.toSeq).toSet
    val salted = Similarity.saltedJoin(left, right, "bucket", "q_id", hot)
      .select("bucket", "q_id", "n_id").collect().map(_.toSeq).toSet
    assert(salted == plain,
      s"salting must not change results: ${salted.size} vs ${plain.size} rows")
    // partition bound: the hot key's probe rows split across the salt
    // sub-keys — the max (bucket, salt) group shrinks from the full hot
    // membership to ~membership/salts
    val saltGrain = left.withColumn("_s",
        pmod(col("q_id"), lit(hot(7))).cast("int"))
      .filter(col("bucket") === 7)
      .groupBy("_s").count().collect().map(_.getLong(1))
    val unsaltedHot = N * 2 / 5
    assert(saltGrain.length == hot(7), "all salts populated")
    assert(saltGrain.max <= unsaltedHot / hot(7) + unsaltedHot / 10,
      s"max salted partition ${saltGrain.max} vs unsalted $unsaltedHot")
  }
}
