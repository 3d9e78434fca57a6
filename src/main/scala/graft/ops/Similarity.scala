package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.Tables

/** Similarity search over the embeddings table (SURVEY.md §2.3).
  *
  * Brute-force cosine is the correctness baseline (and the oracle target);
  * the random-hyperplane LSH variant is the 100 TB path: bucketing turns the
  * all-pairs product into an equi-join on a short signature, then only
  * bucket-mates are re-ranked exactly.
  *
  * Cosine is computed in DOUBLE with a strictly sequential index-order fold
  * (`aggregate(zip_with(...))`) so Spark and the DuckDB oracle produce
  * bit-identical values.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private val dim = 64

  private def vdouble(c: Column): Column = transform(c, x => x.cast("double"))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), vdouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** All pairs with cosine >= tau — the brute-force correctness baseline
    * (the 100 TB path is the LSH candidate join below). One side is
    * broadcast as primitive double arrays and each partition runs a tight
    * index-order dot loop, so only matching pairs materialize — ~10× the
    * throughput of a Catalyst cross-join that allocates per-pair arrays.
    * The loop accumulates left-to-right in DOUBLE, exactly like the
    * previous fold and DuckDB's list_sum, so values stay bit-identical. */
  /** hard ceiling for the brute-force path: beyond this, the driver
    * collect+broadcast becomes the bottleneck and callers must use the
    * LSH/IVF candidate paths (annLsh/annIvf) instead */
  val MaxBruteVectors = 200000

  def cosinePairs(emb: DataFrame, tau: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = withNorm(emb).select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
    // BASELINE-ONLY operator: exact all-pairs via driver collect+broadcast.
    // The guard refuses inputs where that stops being sane — at scale the
    // LSH candidate join (annLsh) is the production path.
    val all = e.take(MaxBruteVectors + 1)
    require(all.length <= MaxBruteVectors,
      s"cosinePairs is the exact baseline for <= $MaxBruteVectors vectors; " +
        "use the LSH/IVF candidate paths at scale")
    val bc = spark.sparkContext.broadcast(all.sortBy(_._1))
    e.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (aid, av, an) =>
        all.iterator.filter(_._1 > aid).flatMap { case (bid, bv, bn) =>
          var s = 0.0
          var i = 0
          while (i < av.length) { s += av(i) * bv(i); i += 1 }
          if (s / (an * bn) >= tau) Some((aid, bid)) else None
        }
      }
    }.toDF("a_id", "b_id")
  }

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    cosinePairs(Tables(spark, dir, "embeddings"), 0.45).orderBy("a_id", "b_id")

  /** brute-force cosine top-k neighbors for query vectors (vec_id < 10);
    * scoring runs through the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression — one fused primitive loop per pair, no intermediate arrays */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        graft.functions.GraftFunctions.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id")
      .orderBy("q_id", "rnk")
  }

  /** Random-hyperplane LSH, multi-table: L independent tables of P seeded
    * planes each. A vector lands in one bucket per table (sign-bit
    * signature); candidate neighbors are the union of the query's bucket
    * mates across tables, then re-ranked exactly. Miss probability per
    * neighbor is (1 - p^P)^L with p = 1 - theta/pi, so recall is tuned by
    * (L, P) against data density — here 16x3 for weakly-clustered data.
    * Candidate generation is an equi-join on (table, bucket): linear-ish,
    * no cross join, the 100 TB path.
    *
    * Planes are Rademacher (±1) with the sign drawn from md5 of the plane
    * coordinate id. ±1 entries give sign-projection LSH the same collision
    * geometry as Gaussian planes in 64-dim, and md5 is bit-identical in
    * every engine — so the whole pipeline (projection sign → bucket →
    * candidate join → exact re-rank) replays exactly in the DuckDB oracle:
    * the products v(j)*±1 are exact and both engines fold the sum in index
    * order. */
  val LshTables = 16
  val LshPlanes = 3

  /** +1 if the top bit of md5("lsh:t:p:j") is 0, else -1 — the oracle
    * computes the identical sign from the md5 hex string. */
  private[ops] def planeSign(t: Int, p: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"lsh:$t:$p:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if ((d(0) & 0x80) == 0) 1.0 else -1.0
  }

  private def planes(t: Int): Array[Array[Double]] =
    Array.tabulate(LshPlanes, dim)((p, j) => planeSign(t, p, j))

  /** adds `tbl` + `bucket` columns, one row per (vector, table). The plane
    * projections run as one JVM pass per vector with the plane matrix on
    * the closure (a few KB) — an equivalent Catalyst expression tree holds
    * 16×3×64 literals and spends more time in codegen than in compute. */
  def lshSignature(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val allPlanes: Array[Array[Array[Double]]] =
      Array.tabulate(LshTables)(t => planes(t))
    e.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .flatMap { case (id, v, nrm) =>
        allPlanes.iterator.zipWithIndex.map { case (ps, t) =>
          var bucket = 0L
          var i = 0
          while (i < ps.length) {
            var s = 0.0
            var j = 0
            while (j < v.length) { s += v(j) * ps(i)(j); j += 1 }
            if (s > 0) bucket |= 1L << i
            i += 1
          }
          (id, v, nrm, t, bucket)
        }
      }
      .toDF("vec_id", "v", "nrm", "tbl", "bucket")
  }

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = lshSignature(withNorm(Tables(spark, dir, "embeddings")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("tbl"), col("bucket"))
    val cand = q.join(e, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qv"), col("qn"),
        col("vec_id").as("n_id"), col("v"), col("nrm"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    cand
      .select(col("q_id"), col("n_id"),
        graft.functions.GraftFunctions.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id")
      .orderBy("q_id", "rnk")
  }

  /** IVF (inverted-file) ANN — the second scale path beside LSH: vectors
    * are bucketed by nearest centroid; a query probes only the `probes`
    * closest centroids' lists and re-ranks those exactly. Candidate
    * generation is an equi-join on the centroid id: linear shuffles, no
    * cross join. Centroids are deterministic: seeded from the first
    * `lists` vectors, refined by one distributed k-means step. The
    * refinement mean is computed over 2^20-quantized integer coordinates
    * (floor(x * 2^20) is an exact IEEE operation), so the sum is exact
    * integer arithmetic — independent of partition order — and the DuckDB
    * oracle reproduces the centroids bit-for-bit.
    *
    * GEOMETRY SCALES WITH THE CORPUS: lists = max(32, floor(sqrt(N))),
    * so each list holds ~sqrt(N) vectors and the per-list candidate join stays flat as data grows —
    * at N = 10^10 that is ~10^5 lists of ~10^5 vectors, not N/32 per
    * list. Probe counts derive from the list count (probes = lists/8
    * floored at the historical 4; the kNN-graph build probes 3·lists/16
    * floored at 6) so the probed FRACTION of the corpus is constant as
    * lists grow. The oracle computes the identical formulas in SQL
    * (floor(sqrt(N)) over IEEE doubles is correctly rounded in both
    * engines), so membership replays exactly at any corpus size. */
  val MinIvfLists = 32

  def ivfListsFor(n: Long): Int =
    math.max(MinIvfLists, math.sqrt(n.toDouble).toLong.toInt)

  def probesFor(lists: Int): Int = math.max(4, lists / 8)
  def knnProbesFor(lists: Int): Int = math.max(6, 3 * lists / 16)

  /** Buckets each vector enlists in for semantic dedup candidate pairing.
    * The corpus's near-duplicates sit around cosine ~0.5 — far from the
    * planted-identical regime — so matching the query-side probe count
    * is what keeps recall vs the brute baseline high; identical twins
    * would tolerate 1-2 probes. */
  def dedupProbesFor(lists: Int): Int = probesFor(lists)

  /** IVF geometry + refined centroids for one embeddings table. */
  final case class IvfIndex(lists: Int, probes: Int, knnProbes: Int,
      dedupProbes: Int, cents: Array[Array[Double]], n: Long)

  /** a list is "hot" above this multiple of the mean list membership */
  private[graft] val HotFactor = 4.0
  /** salt-count cap per hot list (a 32-way split already returns the
    * partition to ~mean size at the detection floor) */
  private[graft] val MaxSalts = 32

  /** Hot-list salt plan: ONE CMS pass over the list assignments (the
    * fixed 32 KB counter grid shuffles, never the keys —
    * [[graft.functions.CmsSketchAgg]]), probed driver-side for every
    * list id (lists ~ sqrt(N): a driver loop, not a join). A list whose
    * estimated membership exceeds max(HotFactor × mean, 2εN) gets
    * ceil(est/mean) salts (capped at [[MaxSalts]]); everything else
    * stays unsalted. The εN floor is the honesty clause: CMS error
    * scales with TOTAL assignments, so sub-ε skew (only possible once
    * lists ≫ 1/ε, where per-list mean is below sketch noise) is left to
    * AQE's runtime skew split — the guard exists for the PATHOLOGICAL
    * case the scaladoc of [[knnJoin]] names, a dense cluster collapsing
    * a corpus-scale fraction onto one centroid, which always clears the
    * ε floor. */
  private[graft] def hotListSalts(assignments: DataFrame, keyCol: String,
      nAssign: Long, lists: Int): Map[Int, Int] = {
    if (nAssign <= 0 || lists <= 1) return Map.empty
    val grid = assignments
      .agg(graft.functions.CmsSketchAgg.cms(col(keyCol)).as("sk"))
      .collect()(0).getSeq[Long](0).toArray
    val mean = nAssign.toDouble / lists
    val floor = math.max(HotFactor * mean,
      2.0 * graft.functions.CmsSketchAgg.Epsilon * nAssign)
    (0 until lists).flatMap { b =>
      val est = graft.functions.CmsSketchAgg.probe(grid, b.toString)
      if (est > floor)
        Some(b -> math.min(MaxSalts, math.ceil(est / mean).toInt))
      else None
    }.toMap
  }

  /** Equi-join on `keyCol` with the [[hotListSalts]] plan applied: left
    * rows salt deterministically (`saltBy` mod the key's salt count),
    * right rows replicate once per salt, so every original row pair
    * still matches EXACTLY once — result rows identical to the unsalted
    * join. What the salting bounds is the LEFT (salted) side's input
    * per shuffle partition (~mean × HotFactor) and with it the
    * per-partition pair product — the quadratic term that serializes a
    * hot list onto one task. The replicated right side still carries
    * the hot list's full membership into every salt sub-partition, so
    * right-side input is parallelized, not shrunk; a right side too big
    * to materialize per task would need the salt/replicate roles
    * swapped onto it instead. Empty plan → plain join. */
  private[graft] def saltedJoin(left: DataFrame, right: DataFrame,
      keyCol: String, saltBy: String, hot: Map[Int, Int]): DataFrame = {
    if (hot.isEmpty) return left.join(right, keyCol)
    val saltMap = map(hot.toSeq.flatMap { case (b, s) => Seq(lit(b), lit(s)) }: _*)
    def nS(c: Column) = coalesce(element_at(saltMap, c), lit(1))
    val l = left.withColumn("_salt",
      pmod(col(saltBy), nS(col(keyCol)).cast(LongType)).cast(IntegerType))
    val r = right.withColumn("_salt",
      explode(sequence(lit(0), nS(col(keyCol)) - lit(1))))
    l.join(r, Seq(keyCol, "_salt")).drop("_salt")
  }

  /** Memoized [[IvfIndex]] per table fingerprint: centroids are a pure
    * deterministic function of the table content, and five queries
    * (annIvf, knnJoin, dedupSemantic, annEval, semanticClusters) share
    * them — without the cache each call re-runs the seed-collect job and
    * the k-means refine job. The key is the embeddings file's
    * (path, length, mtime) walk, so a rewritten table re-builds. */
  /** hard bound on memoized tables: far above any single run's table
    * count, but keeps a long-lived service JVM from growing the cache
    * without bound — at the bound the LEAST-RECENTLY-USED entry evicts,
    * so a long-lived multi-table JVM keeps its hot centroid sets instead
    * of rebuilding every one at once after a clear-all
    * (declared BEFORE ivfCache: object init order) */
  private val IvfCacheMax = 64

  private val ivfCache = new LruCache[String, IvfIndex](IvfCacheMax)

  /** observable count of REAL centroid builds (cache misses) — pinned by
    * the one-build-per-table spec */
  val centroidBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  private def tableFingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        // listFiles() is null on a concurrent delete or permission error —
        // treat as empty (the fingerprint then differs and the index
        // rebuilds: the safe direction) instead of NPEing
        Option(f.listFiles()).map(_.sortBy(_.getName).toSeq)
          .getOrElse(Seq.empty).flatMap(walk)
      else {
        // nanosecond mtime where the filesystem records it: an in-place
        // rewrite that preserves file length within coarse-mtime
        // granularity must still change the key
        val mt = try {
          val t = java.nio.file.Files.getLastModifiedTime(f.toPath).toInstant
          s"${t.getEpochSecond}.${t.getNano}"
        } catch { case _: Exception => f.lastModified.toString }
        Seq(s"${f.getPath}:${f.length}:$mt")
      }
    walk(new java.io.File(s"$dir/embeddings.parquet")).mkString("|")
  }

  private def nearestCentroid(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestCos = Double.MinValue
    var c = 0
    while (c < cents.length) {
      val cos = graft.functions.CosineSimilarity.compute(v, cents(c))
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    best
  }

  private def topCentroids(v: Array[Double], cents: Array[Array[Double]], p: Int): Seq[Int] =
    cents.indices
      .map(c => c -> graft.functions.CosineSimilarity.compute(v, cents(c)))
      .sortBy { case (c, cos) => (-cos, c) }.take(p).map(_._1)

  /** memoized IVF geometry + centroids for the embeddings table in `dir`;
    * builds at most once per table content (see [[ivfCache]]) */
  private def ivfIndex(spark: SparkSession, dir: String,
      e: org.apache.spark.sql.Dataset[(Long, Array[Double])]): IvfIndex =
    ivfCache.getOrElseUpdate(tableFingerprint(dir), {
      centroidBuilds.incrementAndGet()
      val n = e.count()
      val lists = ivfListsFor(n)
      IvfIndex(lists, probesFor(lists), knnProbesFor(lists),
        dedupProbesFor(lists), ivfCentroids(spark, e, lists), n)
    })

  /** deterministic refined centroids — shared by [[annIvf]], [[knnJoin]]
    * and [[dedupSemantic]] via [[ivfIndex]]: seeds from the first `lists`
    * vectors, one k-means step over 2^20-quantized coordinates (exact,
    * order-free) */
  private def ivfCentroids(spark: SparkSession,
      e: org.apache.spark.sql.Dataset[(Long, Array[Double])],
      lists: Int): Array[Array[Double]] = {
    import spark.implicits._
    val seedCents = e.filter(_._1 < lists).collect().sortBy(_._1).map(_._2)
    val bc0 = spark.sparkContext.broadcast(seedCents)
    val refined = e
      .map { case (_, v) => (nearestCentroid(v, bc0.value), v) }
      .toDF("c", "v")
      .select(col("c"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("c", "i")
      .agg(sum(floor(col("x") * lit(1048576.0)).cast(LongType)).as("sx"),
        count(lit(1)).as("n"))
      .select(col("c"), col("i"),
        (col("sx").cast("double") / (col("n").cast("double") * lit(1048576.0))).as("m"))
      .groupBy("c").agg(map_from_arrays(collect_list(col("i")), collect_list(col("m"))).as("dims"))
      .as[(Int, Map[Int, Double])].collect()
      .sortBy(_._1)
    seedCents.indices.map { c =>
      refined.find(_._1 == c).map { case (_, dims) =>
        Array.tabulate(dim)(i => dims(i))
      }.getOrElse(seedCents(c))
    }.toArray
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
    val idx = ivfIndex(spark, dir, e)
    val bc = spark.sparkContext.broadcast(idx.cents)

    val bucketed = e.map { case (id, v) => (id, v, nearestCentroid(v, bc.value)) }
      .toDF("vec_id", "v", "bucket")
    val probes = idx.probes
    val q = e.filter(_._1 < 10)
      .flatMap { case (id, v) => topCentroids(v, bc.value, probes).map(c => (id, v, c)) }
      .toDF("q_id", "qv", "bucket")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    q.join(bucketed, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        graft.functions.GraftFunctions.cosine(col("qv"), col("v")).as("cos"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id")
      .orderBy("q_id", "rnk")
  }

  /** Semantic (embedding-space) deduplication at scale: vectors are
    * bucketed by their nearest IVF centroid, candidate pairs form ONLY
    * within a bucket (equi-join on the centroid id — no all-pairs), each
    * candidate is verified with the exact cosine, and the higher vec_id of
    * every confirmed near-duplicate pair is dropped. This is the SemDeDup
    * shape: clustering bounds the quadratic term by the largest cluster,
    * so the cost is sum(|cluster|^2) instead of n^2 — at 100 TB the
    * centroid count grows with the corpus and each bucket's pair join
    * stays a local problem. Vectors enlist in their `dedupProbes` nearest
    * buckets (multi-probe), because a near-duplicate pair near a Voronoi
    * boundary otherwise splits across buckets and is never compared.
    * Same tau as the brute-force baseline (q_dedup_embedding), so recall
    * against it is measurable. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val e = emb.select(col("vec_id"), vdouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
    val idx = ivfIndex(spark, dir, e)
    val bc = spark.sparkContext.broadcast(idx.cents)
    val dedupProbes = idx.dedupProbes
    val bucketed = e.flatMap { case (id, v) =>
      topCentroids(v, bc.value, dedupProbes).map(c => (id, v, c))
    }.toDF("vec_id", "v", "bucket")
    // hot-list guard: a dense near-duplicate cluster collapses onto one
    // centroid and would make that bucket's pair join quadratic in the
    // cluster; the CMS probe detects it and the salted join bounds it
    val hot = hotListSalts(bucketed.select(col("bucket")), "bucket",
      idx.n * dedupProbes, idx.lists)
    val a = bucketed.select(col("bucket"), col("vec_id").as("a_id"), col("v").as("av"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("b_id"), col("v").as("bv"))
    val dropped = saltedJoin(a, b, "bucket", "a_id", hot)
      .filter(col("a_id") < col("b_id"))
      .filter(graft.functions.GraftFunctions.cosine(col("av"), col("bv")) >= 0.45)
      .select(col("b_id").as("vec_id")).distinct()
    emb.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** int8 embedding quantization — the storage-side half of a production
    * ANN pipeline (4× smaller vectors, SIMD-friendly dot products).
    * Symmetric per-vector scaling with floor rounding keeps every step an
    * exact IEEE double operation, so the DuckDB oracle matches bit-for-bit
    * (banker's-vs-half-up rounding differences never arise). */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
      .withColumn("max_abs", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("q", expr(
        "CASE WHEN max_abs = 0.0 THEN transform(v, x -> 0L) " +
          "ELSE transform(v, x -> CAST(floor(x * 127.0 / max_abs) AS BIGINT)) END"))
      .select(col("vec_id"), col("max_abs"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("sum_q"),
        expr("size(filter(q, x -> x = 127 OR x = -128))").cast(LongType).as("n_sat"))
      .orderBy("vec_id")

  /** ANN search over the int8-QUANTIZED vectors — the query-side half of
    * the quantization pipeline: 4× less data scanned per candidate, exact
    * integer dot products (every quantized value and partial sum is an
    * exact small integer, so double accumulation is exact and the DuckDB
    * oracle matches bit-for-bit), ranking by cosine of the quantized
    * vectors. Same top-k contract as annTopK, so the recall cost of
    * quantization is directly measurable against it. */
  def annInt8(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
      .withColumn("max_abs", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("qv", expr(
        "CASE WHEN max_abs = 0.0 THEN transform(v, x -> CAST(0 AS DOUBLE)) " +
          "ELSE transform(v, x -> CAST(CAST(floor(x * 127.0 / max_abs) AS BIGINT) AS DOUBLE)) END"))
      .select("vec_id", "qv")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv").as("qq"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        graft.functions.GraftFunctions.cosine(col("qq"), col("qv")).as("cos"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id")
      .orderBy("q_id", "rnk")
  }

  // --- product-quantized ANN (ADC) ------------------------------------------
  /** PQ codebook geometry: [[dim]]=64 splits into PqM=4 subspaces of
    * PqSub=16 dims, PqKs=16 centroids per subspace — a vector compresses
    * to 4 codes (4 bytes in a production layout; 512 bytes of raw
    * doubles → 128× smaller than the float form it stands in for). */
  val PqM = 4
  val PqSub = 16
  val PqKs = 16
  /** ADC shortlist size before the exact re-rank */
  val PqShortlist = 32

  /** L2² between v's m-th subvector and a PqSub-dim centroid — index-order
    * accumulation, the bit-exact twin of the oracle's list_sum fold */
  private def subL2(v: Array[Double], m: Int, c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < PqSub) { val d = v(m * PqSub + i) - c(i); s += d * d; i += 1 }
    s
  }

  /** dot of v's m-th subvector with a centroid — same fold discipline */
  private def subDot(v: Array[Double], m: Int, c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < PqSub) { s += v(m * PqSub + i) * c(i); i += 1 }
    s
  }

  /** nearest centroid by L2², ties to the LOWER index (strict `<` keeps
    * the first minimum — the twin of ORDER BY d ASC, k) */
  private def nearestCode(v: Array[Double], m: Int,
      book: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var k = 0
    while (k < book.length) {
      val d = subL2(v, m, book(k))
      if (d < bestD) { bestD = d; best = k }
      k += 1
    }
    best
  }

  /** deterministic per-subspace codebooks, the same discipline as
    * [[ivfCentroids]]: seeds = the first PqKs vectors' subvectors, one
    * k-means step over 2^20-quantized coordinates (exact integer sums →
    * one double division), empty clusters keep their seed. The refine
    * pass is a corpus-wide partial agg over (m, k, i) keys — 1024 rows
    * out regardless of corpus size. */
  private def pqCodebooks(spark: SparkSession,
      e: org.apache.spark.sql.Dataset[(Long, Array[Double])]): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val seeds = e.filter(_._1 < PqKs).collect().sortBy(_._1).map(_._2)
    val seedBooks: Array[Array[Array[Double]]] =
      Array.tabulate(PqM)(m => seeds.map(s => s.slice(m * PqSub, (m + 1) * PqSub)))
    val bc0 = spark.sparkContext.broadcast(seedBooks)
    val refined = e.flatMap { case (_, v) =>
      (0 until PqM).map { m =>
        (m, nearestCode(v, m, bc0.value(m)), v.slice(m * PqSub, (m + 1) * PqSub))
      }
    }.toDF("m", "k", "sv")
      .select(col("m"), col("k"), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy("m", "k", "i")
      .agg(sum(floor(col("x") * lit(1048576.0)).cast(LongType)).as("sx"),
        count(lit(1)).as("n"))
      .select(col("m"), col("k"), col("i"),
        (col("sx").cast("double") / (col("n").cast("double") * lit(1048576.0))).as("mu"))
      .groupBy("m", "k")
      .agg(map_from_arrays(collect_list(col("i")), collect_list(col("mu"))).as("dims"))
      .as[(Int, Int, Map[Int, Double])].collect()
    Array.tabulate(PqM, PqKs) { (m, k) =>
      refined.find(r => r._1 == m && r._2 == k).map { case (_, _, dims) =>
        Array.tabulate(PqSub)(i => dims(i))
      }.getOrElse(seedBooks(m)(k))
    }
  }

  /** Product-quantization ANN with asymmetric distance computation — the
    * third leg of the ANN family (LSH buckets, IVF lists, PQ codes) and
    * the one that wins when the CODES fit in memory but the vectors
    * don't: scoring a candidate is 4 table lookups + 3 adds instead of a
    * 64-dim dot product, against a 4-byte-per-vector scan.
    *
    * Scale shape: codebooks are deterministic and tiny (4×16×16 doubles,
    * broadcast); the codes table is one linear map over the corpus; each
    * query precomputes a LUT[m][k] = ⟨q_sub, centroid⟩ on the driver
    * (PqM×PqKs doubles per query) and ships it broadcast, so the ADC
    * scan is join-free per row and embarrassingly parallel. The top-
    * [[PqShortlist]] selection is TWO-PHASE over a deterministic salt
    * (n_id mod 64): a per-(query, salt) window prunes each cell to
    * PqShortlist rows, then the global window ranks the 64×PqShortlist
    * survivors per query — the single-phase per-query window would
    * funnel the whole corpus through ≤#queries tasks at 100 TB (the
    * next rung at extreme scale is a map-side partial top-k, which
    * also caps the pre-prune sort). Exact-arithmetic contract:
    * every fold (LUT dots, the 4-term ADC sum, the k-means refine) runs
    * in index order in both engines, so scores are bit-identical and
    * the final exact-cosine re-rank mirrors the IVF/LSH tail. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
    val books = pqCodebooks(spark, e)
    val bc = spark.sparkContext.broadcast(books)
    val codes = e.map { case (id, v) =>
      (id, nearestCode(v, 0, bc.value(0)), nearestCode(v, 1, bc.value(1)),
        nearestCode(v, 2, bc.value(2)), nearestCode(v, 3, bc.value(3)))
    }.toDF("vec_id", "c0", "c1", "c2", "c3")
    val queries = e.filter(_._1 < 10).collect().sortBy(_._1).map { case (id, v) =>
      (id, v.toSeq,
        Array.tabulate(PqKs)(k => subDot(v, 0, books(0)(k))).toSeq,
        Array.tabulate(PqKs)(k => subDot(v, 1, books(1)(k))).toSeq,
        Array.tabulate(PqKs)(k => subDot(v, 2, books(2)(k))).toSeq,
        Array.tabulate(PqKs)(k => subDot(v, 3, books(3)(k))).toSeq)
    }.toSeq.toDF("q_id", "qv", "lut0", "lut1", "lut2", "lut3")
    val adc = codes.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("qv"),
        (element_at(col("lut0"), col("c0") + 1) +
          element_at(col("lut1"), col("c1") + 1) +
          element_at(col("lut2"), col("c2") + 1) +
          element_at(col("lut3"), col("c3") + 1)).as("score"))
    // two-phase exact top-k: phase 1 prunes per (query, n_id%64) — a pure
    // DATA key, so the plan is deterministic and each window partition
    // holds ~1/64 of one query's candidates; phase 2 ranks the 64×
    // PqShortlist survivors. Every global-top-PqShortlist row survives
    // phase 1 (fewer than PqShortlist rows beat it anywhere, a fortiori
    // in its salt cell), so the result is EXACTLY the single-window
    // top-k without ever funneling a corpus through ≤#queries tasks.
    val local = Window.partitionBy(col("q_id"), pmod(col("n_id"), lit(64L)))
      .orderBy(col("score").desc, col("n_id"))
    val global = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id"))
    val shortlist = adc
      .withColumn("rl", row_number().over(local)).filter(col("rl") <= PqShortlist)
      .withColumn("rs", row_number().over(global)).filter(col("rs") <= PqShortlist)
      .select("q_id", "n_id", "qv")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    shortlist.join(e.toDF("n_id", "nv"), "n_id")
      .select(col("q_id"), col("n_id"),
        graft.functions.GraftFunctions.cosine(col("qv"), col("nv")).as("cos"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id")
      .orderBy("q_id", "rnk")
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the most-similar vectors carrying a DIFFERENT label — the pairs that
    * teach a retriever the most. Same broadcast-queries × linear-scan shape
    * as [[annTopK]] (a small query batch against the corpus never
    * shuffles); the production-scale variant swaps the scan for the LSH
    * candidate join of [[annLsh]] and re-ranks exactly, unchanged here
    * because mining quality is defined by the exact top-k. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), vdouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    broadcast(q).join(e, col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("label").as("n_label"),
        graft.functions.GraftFunctions.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 2)
      .select("q_id", "rnk", "n_id", "n_label")
      .orderBy("q_id", "rnk")
  }

  /** Contrastive-training triplet mining: for each anchor, the hardest
    * POSITIVE (most-similar same-label neighbor — easy positives teach
    * nothing) and the hardest NEGATIVE (most-similar other-label vector —
    * the boundary case). One scored pass over anchor×corpus, then two
    * windows over the SAME partitioning pick both sides; margin = the
    * positive/negative cosine gap the loss would push on. Anchors
    * broadcast; at 100 TB the LSH candidate join replaces the linear
    * scan exactly as in annLsh. */
  def triplets(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), vdouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("v").as("av"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("vec_id").as("c_id"),
        col("label").as("c_label"),
        graft.functions.GraftFunctions.cosine(col("av"), col("v")).as("cos"))
    val wPos = Window.partitionBy(col("a_id"))
      .orderBy(col("cos").desc, col("c_id"))
    val pos = scored.filter(col("c_label") === col("a_label"))
      .withColumn("rk", row_number().over(wPos)).filter(col("rk") === 1)
      .select(col("a_id"), col("c_id").as("pos_id"), col("cos").as("pos_cos"))
    val neg = scored.filter(col("c_label") =!= col("a_label"))
      .withColumn("rk", row_number().over(wPos)).filter(col("rk") === 1)
      .select(col("a_id"), col("c_id").as("neg_id"), col("cos").as("neg_cos"))
    pos.join(neg, "a_id")
      .select(col("a_id"), col("pos_id"), col("neg_id"),
        (col("pos_cos") - col("neg_cos")).as("margin"))
      .orderBy("a_id")
  }

  /** Exact embedding covariance matrix (upper triangle) — the whitening /
    * drift-monitoring statistic over the corpus's embedding distribution:
    * cov(i,j) = E[x_i x_j] − E[x_i]E[x_j]. One posexplode scatters each
    * vector to (dim, value) rows, a vec-local self-join forms the D²/2
    * products IN the same task (join key = vec_id, co-partitioned), and
    * ONE groupBy(i,j) with map-side DECIMAL partials reduces to D²/2
    * result cells — the shuffle carries per-partition partial sums, never
    * row data. Products are cast to DECIMAL before summing so the
    * reduction is exact and partition-order-free; the final covariance is
    * a fixed-order double expression over those exact sums. */
  def embedCov(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i").cast("long").as("i"),
        col("x").cast("double").as("x"))
    val n = Tables(spark, dir, "embeddings").agg(count(lit(1)).as("n"))
    // values and products are rounded to scaled BIGINTs BEFORE summing —
    // the reduction is exact integer math (order-free), and the final
    // double expression sees identical inputs in both engines (a big
    // DECIMAL→DOUBLE cast is 1-ULP engine-dependent; int64→double is
    // correctly rounded everywhere)
    val sums = dims.groupBy(col("i"))
      .agg(sum(floor(col("x") * lit(1e12) + lit(0.5)).cast("long")).as("sx"))
    val prods = dims.as("a")
      .join(dims.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(floor(col("a.x") * col("b.x") * lit(1e12) + lit(0.5))
        .cast("long")).as("sxy"))
    val nD = col("n").cast("double")
    prods
      .join(sums.select(col("i"), col("sx").as("sxi")), "i")
      .join(sums.select(col("i").as("j"), col("sx").as("sxj")), "j")
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (col("sxy").cast("double") / lit(1e12) / nD
          - (col("sxi").cast("double") / lit(1e12) / nD)
            * (col("sxj").cast("double") / lit(1e12) / nD)).as("cov"))
      .orderBy("i", "j")
  }

  // --- principal-direction projection (integer power iteration) -------------
  /** Quantization scale for [[embedPca]]: embedding components and the
    * direction vector are held as integers at these scales, so every
    * reduction is exact and order-free in BOTH engines. */
  val PcaQuantScale = 1000L
  val PcaDirScale = 1000000L
  val PcaIters = 200

  /** PCA-style principal-direction projection, exact across engines.
    *
    * Pipeline meaning: rank every vector by its projection onto the
    * dominant direction of the corpus second-moment matrix — the 1-D
    * embedding summary used for curriculum ordering, outlier triage, and
    * diversity bucketing.
    *
    * Numerics: a float power iteration is order-sensitive (summation
    * order changes the last ulp, and on a near-isotropic spectrum that
    * can flip ranks), so the whole computation is integer-exact instead:
    * components quantize to `floor(e * PcaQuantScale)`, the 64x64
    * second-moment matrix accumulates BIGINT products (one map-side
    * fan-out of the per-row outer product, one partial-agg shuffle — the
    * corpus is read once and never joined), and the power iteration runs
    * on the driver over the collected 4096-cell matrix in BigInt with an
    * L-infinity re-scale per step (`y * DirScale / max|y|`, trunc
    * division — identical in Scala BigInt and DuckDB's `//`). The
    * converged direction broadcasts back as a literal array and each
    * vector's projection is an in-expression `zip_with`/`aggregate` dot
    * product in exact BIGINT.
    *
    * Scale: the driver matrix is dim^2 cells regardless of corpus size
    * (the K-means-centroid pattern); 200 iterations of 64x64 BigInt
    * mat-vec is microseconds. At 100 TB only the one second-moment
    * aggregation touches the data. */
  def embedPca(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr(s"transform(embedding, e -> cast(floor(cast(e as double) * $PcaQuantScale.0d) as bigint))")
          .as("q"))
    // Second-moment accumulation as a per-partition primitive pass: each
    // task folds its vectors into one dim² long array and emits the
    // upper triangle ONCE — the partial-aggregation shape with zero
    // per-pair object churn. (The expression-level alternative explodes
    // dim²/2 structs per ROW through codegen before the agg ever sees
    // them; measured ~4x slower at sf0.1.) The shuffle then carries
    // #partitions × dim²/2 rows regardless of corpus size, and integer
    // sums are order-free so both engines agree exactly.
    import spark.implicits._
    val qds = q.select(col("q")).as[Array[Long]]
    val cells = qds.mapPartitions { it =>
      var acc: Array[Long] = null
      var d = 0
      it.foreach { v =>
        if (acc == null) { d = v.length; acc = Array.ofDim[Long](d * d) }
        var i = 0
        while (i < d) {
          val vi = v(i)
          var j = i
          while (j < d) { acc(i * d + j) += vi * v(j); j += 1 }
          i += 1
        }
      }
      if (acc == null) Iterator.empty
      else Iterator.range(0, d).flatMap(i =>
        Iterator.range(i, d).map(j => (i, j, acc(i * d + j))))
    }.toDF("i", "j", "v")
      .groupBy(col("i"), col("j")).agg(sum(col("v")).as("cij"))
      .collect()
    val dim = cells.map(_.getAs[Int]("j")).max + 1
    val mat = Array.ofDim[BigInt](dim, dim)
    cells.foreach { r =>
      val (i, j, v) = (r.getAs[Int]("i"), r.getAs[Int]("j"), BigInt(r.getAs[Long]("cij")))
      mat(i)(j) = v; mat(j)(i) = v
    }
    var x = Array.fill(dim)(BigInt(PcaDirScale))
    for (_ <- 1 to PcaIters) {
      val y = Array.tabulate(dim)(i => (0 until dim).map(j => mat(i)(j) * x(j)).sum)
      val m = y.map(_.abs).max
      x = y.map(v => v * PcaDirScale / m) // BigInt /: trunc toward zero, like `//`
    }
    val dLit = array(x.map(v => lit(v.toLong)): _*)
    val proj = expr("aggregate(zip_with(q, d, (a, b) -> a * b), 0L, (acc, v) -> acc + v)")
    q.withColumn("d", dLit)
      .select(col("vec_id"), col("label"), proj.as("p"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("p").desc, col("vec_id")))
        .cast(LongType))
      .orderBy("vec_id")
  }

  // --- full kNN self-join (the kNN-graph builder) ---------------------------
  /** neighbors per vector in [[knnJoin]]; probed lists per vector come
    * from [[knnProbesFor]] — higher than the query-path probe count
    * because a graph build tolerates more candidate work per vector */
  val KnnK = 3

  /** Full approximate kNN self-join: EVERY vector finds its top-K
    * neighbors — the kNN-graph that SemDeDup-style semantic dedup,
    * embedding clustering, and diversity mining all start from. The
    * naive form is an N² cross join; here each vector multi-probes its
    * [[IvfIndex.knnProbes]] nearest IVF lists and candidates are vectors
    * sharing a list, so the quadratic is bounded per-list
    * (candidates/vector ≈ knnProbes × N/lists; both sides shuffle ONCE
    * keyed by list id). The same deterministic quantized-k-means
    * centroids as [[annIvf]], so the oracle replays membership exactly;
    * exact cosine + rank on the candidate set. At 100 TB the list count
    * is the parallelism/recall knob and it is WIRED to the corpus size
    * (lists = max(32, sqrt(N)) via [[ivfListsFor]], so per-list work
    * stays ~sqrt(N), not N/constant). A pathologically hot list (a
    * dense cluster collapsing many vectors onto one centroid) is a
    * skewed equi-join key, guarded twice: the [[hotListSalts]] CMS
    * probe detects corpus-fraction-hot lists and splits them in the
    * PLAN (salted join, results provably unchanged — SkewGuardSpec),
    * and AQE's runtime skew split (spark.sql.adaptive.skewJoin, on by
    * default) catches whatever runs below the sketch's ε floor. */
  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
    val idx = ivfIndex(spark, dir, e)
    val bc = spark.sparkContext.broadcast(idx.cents)
    val bucketed = e.map { case (id, v) => (id, v, nearestCentroid(v, bc.value)) }
      .toDF("vec_id", "v", "bucket")
    val knnProbes = idx.knnProbes
    val probes = e.flatMap { case (id, v) =>
      topCentroids(v, bc.value, knnProbes).map(c => (id, v, c)) }
      .toDF("q_id", "qv", "bucket")
    // hot-list guard (see [[hotListSalts]]): the CMS probe over build-side
    // memberships detects a corpus-fraction-hot list and the salted join
    // splits it BEFORE launch — the planned complement to AQE's runtime
    // skew split, with results provably unchanged (SkewGuardSpec)
    val hot = hotListSalts(bucketed.select(col("bucket")), "bucket",
      idx.n, idx.lists)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    saltedJoin(probes, bucketed, "bucket", "q_id", hot)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        graft.functions.GraftFunctions.cosine(col("qv"), col("v")).as("cos"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= KnnK)
      .select("q_id", "rnk", "n_id")
      .orderBy("q_id", "rnk")
  }

  /** Semantic cluster inventory: connected components over the MUTUAL
    * kNN graph (an edge exists iff a lists b AND b lists a — the standard
    * symmetrization that kills hub vertices and asymmetric near-misses).
    * [[knnJoin]] supplies the directed top-K edges; the mutual filter is
    * one self-join on the (tiny) edge list; components come from
    * [[CorpusGraph.connectedComponents]] — driver union-find below the
    * edge bound, alternating large/small-star contraction above it
    * (shuffles touch only the EDGE set, never the corpus).
    * Output: every clustered vector, its elected representative (min id)
    * and cluster size; singletons (no mutual edge) are not clusters and
    * don't appear. */
  def semanticClusters(spark: SparkSession, dir: String): DataFrame = {
    // materialize the kNN edge list once: the mutual self-join references
    // it twice and the CC loop replays it every round — without the
    // checkpoint the whole IVF+rerank subtree would re-execute each time
    val knn = knnJoin(spark, dir).select(col("q_id"), col("n_id"))
      .localCheckpoint()
    val mutual = knn.as("a").join(knn.as("b"),
        col("a.q_id") === col("b.n_id") && col("a.n_id") === col("b.q_id"))
      .filter(col("a.q_id") < col("a.n_id"))
      .select(col("a.q_id").as("a_id"), col("a.n_id").as("b_id"))
    val rep = CorpusGraph.connectedComponents(mutual)
    val sizes = rep.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
    rep.join(sizes, "rep")
      .select(col("v").as("vec_id"), col("rep"), col("cluster_size"))
      .orderBy("vec_id")
  }

  /** neighbors per side feeding the margin denominator in [[bitextMine]] */
  val BitextK = 4
  /** mined-pair acceptance threshold in ppm (1.05 = the classic
    * margin-criterion operating zone) */
  val BitextMarginPpm = 1050000L

  /** Margin-based parallel-pair mining — the bitext-mining shape
    * (Artetxe & Schwenk's margin criterion) a multilingual training-data
    * pipeline runs to pair sentences across two corpora: for every
    * "source" vector (even vec_id — the deterministic stand-in for
    * corpus A) find its best "target" (odd vec_id) neighbor, and accept
    * the pair only when its similarity stands OUT against both sides'
    * neighborhoods — margin = cos(x,y) / ((avgK_fwd(x) + avgK_bwd(y))/2),
    * which kills hub vectors that are everyone's nearest neighbor.
    *
    * Scale shape: candidates come from the shared IVF blocking (source
    * probes its [[IvfIndex.knnProbes]] lists, targets live in their
    * nearest list — the [[knnJoin]] machinery, one shuffle keyed by list
    * id); both window passes run over the candidate set only. Exactness
    * contract: cosines quantize to integer micro-units immediately, so
    * the top-K sums, the margin ratio (2e6·q·fn·bn div (fsum·bn+bsum·fn))
    * and the threshold are pure integer arithmetic — bit-identical in
    * the DuckDB oracle regardless of aggregation order. Negative-cosine
    * candidates are dropped before ranking (a mined pair must be
    * positively similar; also keeps the integer division floor-safe). */
  def bitextMine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
    val idx = ivfIndex(spark, dir, e)
    val bc = spark.sparkContext.broadcast(idx.cents)
    val knnProbes = idx.knnProbes
    val probes = e.filter(_._1 % 2 == 0)
      .flatMap { case (id, v) => topCentroids(v, bc.value, knnProbes).map(c => (id, v, c)) }
      .toDF("s_id", "sv", "bucket")
    val buck = e.filter(_._1 % 2 == 1)
      .map { case (id, v) => (id, v, nearestCentroid(v, bc.value)) }
      .toDF("t_id", "tv", "bucket")
    val pos = probes.join(buck, "bucket")
      .select(col("s_id"), col("t_id"),
        floor(graft.functions.GraftFunctions.cosine(col("sv"), col("tv")) *
          lit(1000000.0)).cast(LongType).as("q"))
      .dropDuplicates("s_id", "t_id")
      .filter(col("q") > 0L)
    val wf = Window.partitionBy(col("s_id")).orderBy(col("q").desc, col("t_id"))
    val wb = Window.partitionBy(col("t_id")).orderBy(col("q").desc, col("s_id"))
    val ranked = pos
      .withColumn("fr", row_number().over(wf))
      .withColumn("br", row_number().over(wb))
    val fs = ranked.filter(col("fr") <= BitextK).groupBy("s_id")
      .agg(sum(col("q")).as("fsum"), count(lit(1)).as("fn"))
    val bs = ranked.filter(col("br") <= BitextK).groupBy("t_id")
      .agg(sum(col("q")).as("bsum"), count(lit(1)).as("bn"))
    ranked.filter(col("fr") === 1).select("s_id", "t_id", "q")
      .join(fs, "s_id").join(bs, "t_id")
      .withColumn("margin_ppm",
        expr("2000000 * q * fn * bn div (fsum * bn + bsum * fn)"))
      .filter(col("margin_ppm") >= BitextMarginPpm)
      .select("s_id", "t_id", "margin_ppm")
      .orderBy("s_id")
  }

  /** micro-unit cosine threshold for semantic contamination (same 0.45
    * operating point as the embedding dedup family) */
  val DecontamQ = 450000L

  /** Semantic decontamination — the embedding-space sibling of the
    * n-gram [[Dedup]] decontaminate gate: corpus vectors too similar to
    * any BENCHMARK vector (vec_id % 20 == 0, the same holdout split the
    * n-gram gate uses on documents) are flagged with their hit count and
    * strongest similarity. Catches paraphrased contamination that exact
    * n-gram overlap misses — the reason evaluation-hygiene pipelines run
    * both gates.
    *
    * Scale shape: the (small) benchmark side multi-probes its
    * [[IvfIndex.dedupProbes]] nearest lists, the corpus side sits in its
    * nearest list — candidates form per list (the [[dedupSemantic]]
    * blocking, one shuffle), and similarities quantize to integer
    * micro-units so counts and maxima replay bit-exactly in the oracle. */
  def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
    val idx = ivfIndex(spark, dir, e)
    val bc = spark.sparkContext.broadcast(idx.cents)
    val dedupProbes = idx.dedupProbes
    val bench = e.filter(_._1 % 20 == 0)
      .flatMap { case (id, v) =>
        topCentroids(v, bc.value, dedupProbes).map(c => (id, v, c)) }
      .toDF("b_id", "bv", "bucket")
    val corpus = e.filter(_._1 % 20 != 0)
      .map { case (id, v) => (id, v, nearestCentroid(v, bc.value)) }
      .toDF("vec_id", "cv", "bucket")
    corpus.join(bench, "bucket")
      .select(col("vec_id"), col("b_id"),
        floor(graft.functions.GraftFunctions.cosine(col("cv"), col("bv")) *
          lit(1000000.0)).cast(LongType).as("q"))
      .dropDuplicates("vec_id", "b_id")
      .filter(col("q") >= DecontamQ)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("q")).as("max_q"))
      .orderBy("vec_id")
  }

  /** Recall evaluation harness: the IVF approximate path scored against
    * the brute-force exact top-5 for the query set — the measurement a
    * pipeline runs before trusting an ANN index config. Pure composition
    * of two existing queries (and their oracles compose the same way),
    * so the gate checks the recall NUMBERS cross-engine, not just each
    * method in isolation. recall_pct = hits × 20 (k = 5). */
  def annEval(spark: SparkSession, dir: String): DataFrame = {
    val brute = annTopK(spark, dir).select(col("q_id"), col("n_id"))
    val approx = annIvf(spark, dir)
      .select(col("q_id"), col("n_id"), col("rnk"))
    brute.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("rnk")).as("hits"))
      .select(col("q_id"), col("hits"), (col("hits") * 20L).as("recall_pct"))
      .orderBy("q_id")
  }

  val queries: Map[String, Q] = Map(
    "q_bitext_mine" -> bitextMine,
    "q_decontaminate_semantic" -> decontaminateSemantic,
    "q_ann_eval" -> annEval,
    "q_semantic_clusters" -> semanticClusters,
    "q_knn_join" -> knnJoin,
    "q_embed_pca" -> embedPca,
    "q_embed_cov" -> embedCov,
    "q_triplets" -> triplets,
    "q_dedup_embedding" -> dedupEmbedding,
    "q_ann_topk" -> annTopK,
    "q_ann_lsh" -> annLsh,
    "q_ann_ivf" -> annIvf,
    "q_ann_pq" -> annPq,
    "q_dedup_semantic" -> dedupSemantic,
    "q_ann_int8" -> annInt8,
    "q_embed_quantize" -> embedQuantize,
    "q_hard_negatives" -> hardNegatives)

  private val cosExpr =
    """list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      | / (a.nrm * b.nrm)""".stripMargin.replace("\n", "")

  /** full cosine (no precomputed norm) between two list columns — the SQL
    * twin of [[graft.functions.CosineSimilarity.compute]]: each of the
    * three sums folds in index order, so the doubles agree bit-for-bit */
  private def sqlCos(a: String, b: String): String =
    s"(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))" +
      s" / (sqrt(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i])))" +
      s" * sqrt(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i])))))"

  /** shared tail: exact cosine re-rank of a (q_id, n_id) candidate CTE */
  private def rerankSql(candCte: String, k: Int = 5): String =
    s"""$candCte, scored AS (
       |  SELECT cd.q_id, cd.n_id, ${sqlCos("a.v", "b.v")} AS cos
       |  FROM cand cd JOIN e a ON a.vec_id = cd.q_id JOIN e b ON b.vec_id = cd.n_id
       |)
       |SELECT q_id, rnk, n_id FROM (
       |  SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM scored) t
       |WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin

  private val lshOracle = rerankSql(
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), planes AS (
       |  SELECT t, p, list(s ORDER BY j) AS ps FROM (
       |    SELECT u.t, w.p, x.j,
       |      CASE WHEN strpos('01234567',
       |          substr(md5('lsh:' || u.t || ':' || w.p || ':' || x.j), 1, 1)) > 0
       |        THEN 1.0 ELSE -1.0 END AS s
       |    FROM UNNEST(range(0, $LshTables)) u(t),
       |         UNNEST(range(0, $LshPlanes)) w(p),
       |         UNNEST(range(0, 64)) x(j)) z
       |  GROUP BY t, p
       |), proj AS (
       |  SELECT e.vec_id, pl.t, pl.p,
       |    list_sum(list_transform(range(1, 65), j -> e.v[j] * pl.ps[j])) AS s
       |  FROM e CROSS JOIN planes pl
       |), sigs AS (
       |  SELECT vec_id, t,
       |    SUM(CASE WHEN s > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS bucket
       |  FROM proj GROUP BY vec_id, t
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, m.vec_id AS n_id
       |  FROM sigs q JOIN sigs m ON q.t = m.t AND q.bucket = m.bucket
       |  WHERE q.vec_id < 10 AND m.vec_id <> q.vec_id
       |)""".stripMargin)

  /** centroid-assignment CTE chain shared by the IVF and semantic-dedup
    * oracles: seeds → one exact k-means step → refined cents → a1 maps
    * every vector to its nearest refined centroid */
  /** SQL twin of [[ivfListsFor]]: max(32, floor(sqrt(N))) — floor(sqrt)
    * over IEEE doubles is correctly rounded in both engines, so the list
    * count agrees. */
  private val listsSqlSelect =
    s"SELECT GREATEST($MinIvfLists, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS lists FROM e"
  private val listsSql = "(SELECT lists FROM prm)"
  /** SQL twins of [[probesFor]] / [[knnProbesFor]] / [[dedupProbesFor]] */
  private val probesSql = s"GREATEST(4, $listsSql // 8)"
  private val knnProbesSql = s"GREATEST(6, (3 * $listsSql) // 16)"
  private val dedupProbesSql = probesSql

  private def ivfCentsCte =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), prm AS (
       |  $listsSqlSelect
       |), seeds AS (
       |  SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < $listsSql
       |), a0 AS (
       |  SELECT vec_id, v, c FROM (
       |    SELECT e.vec_id, e.v, s.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlCos("e.v", "s.cv")} DESC, s.c) AS rnk
       |    FROM e CROSS JOIN seeds s) z WHERE rnk = 1
       |), ref AS (
       |  SELECT c, i,
       |    CAST(SUM(CAST(floor(v[i] * 1048576.0) AS BIGINT)) AS DOUBLE)
       |      / (CAST(COUNT(*) AS DOUBLE) * 1048576.0) AS m
       |  FROM a0, UNNEST(range(1, 65)) u(i) GROUP BY c, i
       |), refc AS (
       |  SELECT c, list(m ORDER BY i) AS rv FROM ref GROUP BY c
       |), cents AS (
       |  SELECT s.c, COALESCE(r.rv, s.cv) AS cv
       |  FROM seeds s LEFT JOIN refc r ON s.c = r.c
       |), a1 AS (
       |  SELECT vec_id, c AS bucket FROM (
       |    SELECT e.vec_id, ct.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlCos("e.v", "ct.cv")} DESC, ct.c) AS rnk
       |    FROM e CROSS JOIN cents ct) z WHERE rnk = 1
       |)""".stripMargin

  /** PQ oracle: replays codebook build (seeds → exact quantized k-means
    * step → books), code assignment, the per-query LUT, the ADC score
    * (4 MAX-CASE terms summed LEFT-ASSOCIATIVELY — a bare SUM() over the
    * 4 joined rows would have engine-dependent accumulation order), the
    * top-[[PqShortlist]] shortlist, and the exact-cosine re-rank tail. */
  private def sqlSubL2(vExpr: String, mExpr: String, cvExpr: String): String =
    s"list_sum(list_transform(range(1, ${PqSub + 1}), " +
      s"i -> ($vExpr[$mExpr * $PqSub + i] - $cvExpr[i])" +
      s" * ($vExpr[$mExpr * $PqSub + i] - $cvExpr[i])))"

  private val pqOracle = rerankSql(
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), sub AS (
       |  SELECT u.m, e.vec_id AS k,
       |    list_transform(range(1, ${PqSub + 1}), i -> e.v[u.m * $PqSub + i]) AS cv
       |  FROM e, UNNEST(range(0, $PqM)) u(m) WHERE e.vec_id < $PqKs
       |), a0 AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT e.vec_id, s.m, s.k,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.m
       |        ORDER BY ${sqlSubL2("e.v", "s.m", "s.cv")} ASC, s.k) AS rnk
       |    FROM e CROSS JOIN sub s) z WHERE rnk = 1
       |), ref AS (
       |  SELECT a0.m, a0.k, i,
       |    CAST(SUM(CAST(floor(e.v[a0.m * $PqSub + i] * 1048576.0) AS BIGINT)) AS DOUBLE)
       |      / (CAST(COUNT(*) AS DOUBLE) * 1048576.0) AS mu
       |  FROM a0 JOIN e USING (vec_id), UNNEST(range(1, ${PqSub + 1})) u(i)
       |  GROUP BY a0.m, a0.k, i
       |), refc AS (
       |  SELECT m, k, list(mu ORDER BY i) AS rv FROM ref GROUP BY m, k
       |), books AS (
       |  SELECT s.m, s.k, COALESCE(r.rv, s.cv) AS cv
       |  FROM sub s LEFT JOIN refc r ON s.m = r.m AND s.k = r.k
       |), codes AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT e.vec_id, b.m, b.k,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, b.m
       |        ORDER BY ${sqlSubL2("e.v", "b.m", "b.cv")} ASC, b.k) AS rnk
       |    FROM e CROSS JOIN books b) z WHERE rnk = 1
       |), lut AS (
       |  SELECT q.vec_id AS q_id, b.m, b.k,
       |    list_sum(list_transform(range(1, ${PqSub + 1}),
       |      i -> q.v[b.m * $PqSub + i] * b.cv[i])) AS d
       |  FROM e q CROSS JOIN books b WHERE q.vec_id < 10
       |), adc AS (
       |  SELECT l.q_id, c.vec_id AS n_id,
       |    MAX(CASE WHEN l.m = 0 THEN l.d END)
       |      + MAX(CASE WHEN l.m = 1 THEN l.d END)
       |      + MAX(CASE WHEN l.m = 2 THEN l.d END)
       |      + MAX(CASE WHEN l.m = 3 THEN l.d END) AS score
       |  FROM codes c JOIN lut l ON l.m = c.m AND l.k = c.k
       |  WHERE c.vec_id <> l.q_id GROUP BY l.q_id, c.vec_id
       |), cand AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY score DESC, n_id) AS rs
       |    FROM adc) z WHERE rs <= $PqShortlist
       |)""".stripMargin)

  /** candidate CTE for the full kNN self-join (every vector probes) */
  private val knnCandCte =
    s"""$ivfCentsCte, probes AS (
       |  SELECT vec_id AS q_id, c FROM (
       |    SELECT e.vec_id, ct.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlCos("e.v", "ct.cv")} DESC, ct.c) AS rnk
       |    FROM e CROSS JOIN cents ct) z WHERE rnk <= $knnProbesSql
       |), cand AS (
       |  SELECT DISTINCT p.q_id, a.vec_id AS n_id
       |  FROM probes p JOIN a1 a ON a.bucket = p.c WHERE a.vec_id <> p.q_id
       |)""".stripMargin

  /** brute-force top-5 oracle, shared verbatim by q_ann_topk and the
    * recall-evaluation composition in q_ann_eval */
  private val topkOracle =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), en AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))) AS nrm
       |  FROM e
       |), scored AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, $cosExpr AS cos
       |  FROM en a JOIN en b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
       |)
       |SELECT q_id, rnk, n_id FROM (
       |  SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM scored) t
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  private val knnOracle = rerankSql(knnCandCte, k = KnnK)

  /** the kNN edge set as a named CTE `knn(q_id, n_id)` — the prefix the
    * semantic-clusters oracle builds its transitive closure on */
  private def knnEdgesCte: String =
    s"""$knnCandCte, scored AS (
       |  SELECT cd.q_id, cd.n_id, ${sqlCos("a.v", "b.v")} AS cos
       |  FROM cand cd JOIN e a ON a.vec_id = cd.q_id JOIN e b ON b.vec_id = cd.n_id
       |), knn AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |    FROM scored) t
       |  WHERE rnk <= $KnnK
       |)""".stripMargin

  private val ivfOracle = rerankSql(
    s"""$ivfCentsCte, probes AS (
       |  SELECT vec_id AS q_id, c FROM (
       |    SELECT e.vec_id, ct.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlCos("e.v", "ct.cv")} DESC, ct.c) AS rnk
       |    FROM e CROSS JOIN cents ct WHERE e.vec_id < 10) z WHERE rnk <= $probesSql
       |), cand AS (
       |  SELECT DISTINCT p.q_id, a.vec_id AS n_id
       |  FROM probes p JOIN a1 a ON a.bucket = p.c WHERE a.vec_id <> p.q_id
       |)""".stripMargin)

  private val int8Oracle = rerankSql(
    s"""WITH e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), m AS (
       |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS max_abs FROM e0
       |), e AS (
       |  SELECT vec_id,
       |    CASE WHEN max_abs = 0.0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
       |         ELSE list_transform(v,
       |           x -> CAST(CAST(floor(x * 127.0 / max_abs) AS BIGINT) AS DOUBLE)) END AS v
       |  FROM m
       |), cand AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id
       |  FROM e q JOIN e n ON q.vec_id < 10 AND n.vec_id <> q.vec_id
       |)""".stripMargin)

  /** SQL twin of [[bitextMine]]: same centroid CTEs, source/target
    * split by vec_id parity, micro-unit quantized cosines, pure-integer
    * top-K sums and margin ratio */
  private def bitextOracle: String =
    s"""$ivfCentsCte, probes AS (
       |  SELECT vec_id AS s_id, c FROM (
       |    SELECT e.vec_id, ct.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlCos("e.v", "ct.cv")} DESC, ct.c) AS rnk
       |    FROM e CROSS JOIN cents ct WHERE e.vec_id % 2 = 0) z
       |  WHERE rnk <= $knnProbesSql
       |), cand AS (
       |  SELECT DISTINCT p.s_id, a.vec_id AS t_id
       |  FROM probes p JOIN a1 a ON a.bucket = p.c WHERE a.vec_id % 2 = 1
       |), pos AS (
       |  SELECT cd.s_id, cd.t_id,
       |    CAST(floor(${sqlCos("a.v", "b.v")} * 1000000.0) AS BIGINT) AS q
       |  FROM cand cd
       |  JOIN e a ON a.vec_id = cd.s_id JOIN e b ON b.vec_id = cd.t_id
       |  WHERE floor(${sqlCos("a.v", "b.v")} * 1000000.0) > 0
       |), ranked AS (
       |  SELECT s_id, t_id, q,
       |    ROW_NUMBER() OVER (PARTITION BY s_id ORDER BY q DESC, t_id) AS fr,
       |    ROW_NUMBER() OVER (PARTITION BY t_id ORDER BY q DESC, s_id) AS br
       |  FROM pos
       |), fs AS (
       |  SELECT s_id, SUM(q) AS fsum, COUNT(*) AS fn
       |  FROM ranked WHERE fr <= $BitextK GROUP BY s_id
       |), bs AS (
       |  SELECT t_id, SUM(q) AS bsum, COUNT(*) AS bn
       |  FROM ranked WHERE br <= $BitextK GROUP BY t_id
       |), top1 AS (SELECT s_id, t_id, q FROM ranked WHERE fr = 1)
       |SELECT t.s_id, t.t_id,
       |  CAST((2000000 * t.q * fs.fn * bs.bn)
       |       // (fs.fsum * bs.bn + bs.bsum * fs.fn) AS BIGINT) AS margin_ppm
       |FROM top1 t JOIN fs USING (s_id) JOIN bs USING (t_id)
       |WHERE (2000000 * t.q * fs.fn * bs.bn)
       |      // (fs.fsum * bs.bn + bs.bsum * fs.fn) >= $BitextMarginPpm
       |ORDER BY t.s_id""".stripMargin

  /** SQL twin of [[decontaminateSemantic]] */
  private def decontamOracle: String =
    s"""$ivfCentsCte, bprobes AS (
       |  SELECT vec_id AS b_id, c FROM (
       |    SELECT e.vec_id, ct.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlCos("e.v", "ct.cv")} DESC, ct.c) AS rnk
       |    FROM e CROSS JOIN cents ct WHERE e.vec_id % 20 = 0) z
       |  WHERE rnk <= $dedupProbesSql
       |), cand AS (
       |  SELECT DISTINCT a.vec_id, p.b_id
       |  FROM bprobes p JOIN a1 a ON a.bucket = p.c WHERE a.vec_id % 20 <> 0
       |), hits AS (
       |  SELECT cd.vec_id, cd.b_id,
       |    CAST(floor(${sqlCos("a.v", "b.v")} * 1000000.0) AS BIGINT) AS q
       |  FROM cand cd
       |  JOIN e a ON a.vec_id = cd.vec_id JOIN e b ON b.vec_id = cd.b_id
       |  WHERE floor(${sqlCos("a.v", "b.v")} * 1000000.0) >= $DecontamQ
       |)
       |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       |  CAST(MAX(q) AS BIGINT) AS max_q
       |FROM hits GROUP BY vec_id ORDER BY vec_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_bitext_mine" -> bitextOracle,
    "q_decontaminate_semantic" -> decontamOracle,
    "q_embed_pca" ->
      s"""WITH RECURSIVE q AS (
         |  SELECT vec_id, label, CAST(u.i - 1 AS BIGINT) AS i,
         |    CAST(floor(CAST(embedding[u.i] AS DOUBLE) * $PcaQuantScale.0) AS BIGINT) AS qv
         |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) u(i)
         |), c AS (
         |  SELECT a.i, b.i AS j, SUM(a.qv * b.qv) AS cij
         |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2
         |), pw(itn, i, x) AS (
         |  SELECT 0, i, CAST($PcaDirScale AS HUGEINT) FROM (SELECT DISTINCT i FROM q)
         |  UNION ALL
         |  SELECT m.itn + 1, m.i, (m.y * $PcaDirScale) // MAX(ABS(m.y)) OVER ()
         |  FROM (
         |    SELECT pw.itn, c.i, SUM(CAST(c.cij AS HUGEINT) * pw.x) AS y
         |    FROM pw JOIN c ON c.j = pw.i
         |    GROUP BY 1, 2
         |  ) m
         |  WHERE m.itn < $PcaIters
         |), d AS (SELECT i, CAST(x AS BIGINT) AS d FROM pw WHERE itn = $PcaIters),
         |p AS (
         |  SELECT q.vec_id, q.label, SUM(q.qv * d.d) AS p
         |  FROM q JOIN d USING (i) GROUP BY 1, 2
         |)
         |SELECT vec_id, label, CAST(p AS BIGINT) AS p,
         |  CAST(row_number() OVER (PARTITION BY label ORDER BY p DESC, vec_id)
         |       AS BIGINT) AS r
         |FROM p ORDER BY vec_id""".stripMargin,
    "q_embed_cov" ->
      """WITH dims AS (
        |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
        |    CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, UNNEST(range(1, 65)) u(i)
        |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        |sums AS (
        |  SELECT i, CAST(SUM(CAST(floor(x * 1000000000000.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sx
        |  FROM dims GROUP BY i
        |), prods AS (
        |  SELECT a.i AS i, b.i AS j,
        |    CAST(SUM(CAST(floor(a.x * b.x * 1000000000000.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sxy
        |  FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY a.i, b.i
        |)
        |SELECT p.i, p.j,
        |  CAST(sxy AS DOUBLE) / 1000000000000.0 / CAST(n.n AS DOUBLE)
        |  - (CAST(sa.sx AS DOUBLE) / 1000000000000.0 / CAST(n.n AS DOUBLE))
        |    * (CAST(sb.sx AS DOUBLE) / 1000000000000.0 / CAST(n.n AS DOUBLE))
        |    AS cov
        |FROM prods p
        |JOIN sums sa ON sa.i = p.i
        |JOIN sums sb ON sb.i = p.j, n
        |ORDER BY p.i, p.j""".stripMargin,
    "q_triplets" ->
      s"""WITH e AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), scored AS (
         |  SELECT a.vec_id AS a_id, a.label AS a_label, b.vec_id AS c_id,
         |    b.label AS c_label, ${sqlCos("a.v", "b.v")} AS cos
         |  FROM e a JOIN e b ON a.vec_id < 20 AND b.vec_id <> a.vec_id
         |), pos AS (
         |  SELECT a_id, c_id AS pos_id, cos AS pos_cos FROM (
         |    SELECT a_id, c_id, cos,
         |      ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, c_id) AS rk
         |    FROM scored WHERE c_label = a_label) WHERE rk = 1
         |), neg AS (
         |  SELECT a_id, c_id AS neg_id, cos AS neg_cos FROM (
         |    SELECT a_id, c_id, cos,
         |      ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, c_id) AS rk
         |    FROM scored WHERE c_label <> a_label) WHERE rk = 1
         |)
         |SELECT pos.a_id, pos_id, neg_id, pos_cos - neg_cos AS margin
         |FROM pos JOIN neg ON pos.a_id = neg.a_id
         |ORDER BY pos.a_id""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH e AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), scored AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, b.label AS n_label,
         |    ${sqlCos("a.v", "b.v")} AS cos
         |  FROM e a JOIN e b ON a.vec_id < 20 AND b.label <> a.label
         |)
         |SELECT q_id, rnk, n_id, n_label FROM (
         |  SELECT q_id, n_id, n_label,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored) t
         |WHERE rnk <= 2 ORDER BY q_id, rnk""".stripMargin,
    "q_dedup_semantic" ->
      s"""$ivfCentsCte, am AS (
         |  SELECT vec_id, c AS bucket FROM (
         |    SELECT e.vec_id, ct.c,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.v", "ct.cv")} DESC, ct.c) AS rnk
         |    FROM e CROSS JOIN cents ct) z WHERE rnk <= $dedupProbesSql
         |), dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM am a JOIN am b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE ${sqlCos("ea.v", "eb.v")} >= 0.45
         |)
         |SELECT emb.vec_id, emb.label
         |FROM embeddings emb LEFT JOIN dropped d ON emb.vec_id = d.vec_id
         |WHERE d.vec_id IS NULL
         |ORDER BY emb.vec_id""".stripMargin,
    "q_ann_lsh" -> lshOracle,
    "q_knn_join" -> knnOracle,
    "q_semantic_clusters" -> (knnEdgesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, mut AS (
        |  SELECT a.q_id AS u, a.n_id AS v
        |  FROM knn a JOIN knn b ON a.q_id = b.n_id AND a.n_id = b.q_id
        |  WHERE a.q_id < a.n_id
        |), edges AS (
        |  SELECT u, v FROM mut UNION SELECT v, u FROM mut
        |), reach(v, w) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.v, e.v FROM reach r JOIN edges e ON e.u = r.w
        |), rep AS (
        |  SELECT v, least(v, min(w)) AS rep FROM reach GROUP BY v
        |), sizes AS (SELECT rep, count(*) AS n FROM rep GROUP BY rep)
        |SELECT r.v AS vec_id, r.rep AS rep, CAST(s.n AS BIGINT) AS cluster_size
        |FROM rep r JOIN sizes s USING (rep) ORDER BY vec_id""".stripMargin),
    "q_ann_ivf" -> ivfOracle,
    "q_ann_pq" -> pqOracle,
    "q_ann_int8" -> int8Oracle,
    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), m AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS max_abs FROM e
        |), q AS (
        |  SELECT vec_id, max_abs,
        |    CASE WHEN max_abs = 0.0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(floor(x * 127.0 / max_abs) AS BIGINT)) END AS qv
        |  FROM m
        |)
        |SELECT vec_id, max_abs, CAST(list_sum(qv) AS BIGINT) AS sum_q,
        | CAST(len(list_filter(qv, x -> x = 127 OR x = -128)) AS BIGINT) AS n_sat
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_dedup_embedding" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), en AS (
         |  SELECT vec_id, v,
         |    sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))) AS nrm
         |  FROM e
         |)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |FROM en a JOIN en b ON a.vec_id < b.vec_id
         |WHERE $cosExpr >= 0.45
         |ORDER BY a_id, b_id""".stripMargin,
    "q_ann_topk" -> topkOracle,
    "q_ann_eval" ->
      s"""SELECT b.q_id, CAST(COUNT(a.rnk) AS BIGINT) AS hits,
         |  CAST(COUNT(a.rnk) * 20 AS BIGINT) AS recall_pct
         |FROM ( $topkOracle ) b
         |LEFT JOIN ( $ivfOracle ) a
         |  ON b.q_id = a.q_id AND b.n_id = a.n_id
         |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin)
}
