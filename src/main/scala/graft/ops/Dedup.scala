package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** Deduplication family for LLM training-data pipelines (SURVEY.md §2.3).
  *
  * Scale design: every variant reduces the O(n²) pair space to equi-joins on
  * short keys (full text hash / shared shingle / LSH band signature / simhash
  * block), i.e. plain shuffles that AQE can handle, then verifies only the
  * candidate pairs. Brute-force cross joins never appear.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** distinct word 3-gram shingles per doc, as one ARRAY row per doc —
    * signature computation then happens in-expression with no exploded-row
    * shuffle (at sf0.1 the exploded form was 38M rows through a groupBy) */
  private[ops] def shingleArr(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))").as("sh"))

  /** Exploded (doc_id, shingle-KEY) rows — the join/count unit for exact
    * Jaccard. The key is xxhash64 of the shingle, not the string: every
    * downstream use (df counting, rare/hot splits, the candidate
    * self-join) treats the shingle as an opaque equality key — its text
    * never reaches an output — so an 8-byte long replaces a ~25-byte
    * string through every exchange and aggregation hashmap of the
    * family's hottest path. Identity error is the 64-bit birthday bound:
    * ~4e-7 expected colliding shingle pairs at sf0.1 (~4M distinct
    * shingles), ~300 among 10^11 at corpus scale — a collision perturbs
    * one intersection count by 1 for the handful of doc pairs sharing
    * BOTH colliding shingles' docs, orders of magnitude below the
    * minhash/simhash rows' own documented miss probabilities. The SQL
    * oracles keep computing over the strings, so the hash gate would
    * catch a collision that ever flipped a pair across tau. */
  private def shingles(docs: DataFrame): DataFrame =
    shingleArr(docs).select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))

  /** The df cap on Jaccard candidates: a pair is a candidate iff it
    * shares a shingle whose document frequency is ≤ maxDf. Without the
    * cap one hot shingle shared by k docs emits k²/2 candidate rows — a
    * skew bomb at corpus scale (a boilerplate phrase in a million docs
    * would emit 5·10¹¹ pairs). With it, any shingle emits at most
    * maxDf²/2 rows regardless of corpus size, and a pair is still found
    * as long as it shares ONE sub-cap shingle — near-dup pairs share
    * many, overwhelmingly including rare ones. The df filter is a plain
    * equi-join against the aggregated df table (NOT a broadcast of the
    * hot set: at 10¹² shingle occurrences the >cap set can itself be
    * billions of keys). The default bounds any shingle's candidate
    * fan-out to ≤ 256²/2 rows at ANY corpus size while excluding nothing
    * in practice — a true near-dup pair virtually always shares rare
    * shingles too (testdata max df is 25; a natural-corpus shingle with
    * df > 256 is boilerplate) */
  val JACCARD_MAX_DF = 256

  /** Exact Jaccard verification of a candidate pair set, in the NARROW
    * shape: intersection sizes come from semi-joining the exploded
    * (doc_id, shingle) stream to the pairs and counting matches per pair;
    * the union term joins only the per-doc shingle COUNTS. No row ever
    * carries a shingle array — round 5's array-carrying verify (join the
    * full `sh` array twice onto candidates, then array_intersect) pushed
    * whole arrays through two shuffles and ran ~5× the floor; this form
    * moves (long, long, string) rows through one aggregation plus two
    * count joins, and the fan-out is |cand| × shingles-per-doc, bounded
    * at corpus scale by the df cap upstream. Shingles are distinct per
    * doc, so count(*) after the s-equality join IS |A ∩ B|. */
  private[ops] def verifyExactJaccard(cand: DataFrame, sh: DataFrame,
      tau: Double): DataFrame = {
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("s")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("s")), Seq("b_id", "s"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(cnt.select(col("doc_id").as("a_id"), col("c").as("ca")), "a_id")
      .join(cnt.select(col("doc_id").as("b_id"), col("c").as("cb")), "b_id")
      .filter(col("inter").cast("double") /
        (col("ca") + col("cb") - col("inter")) >= tau)
      .select("a_id", "b_id")
  }

  /** n-gram Jaccard pairs ≥ tau with df-capped candidates: a pair is
    * examined iff it shares ≥1 shingle with df ≤ maxDf (skew-safe, see
    * [[JACCARD_MAX_DF]]), and its Jaccard value is EXACT over
    * the full uncapped shingle sets. The full intersection splits by
    * the cap — |A∩B| = shared-rare + shared-hot — so:
    *
    *  1. shared-rare falls out of the candidate self-join itself: group
    *     the rare equi-join by pair and count, instead of distinct-ing
    *     pairs and re-joining shingle data (round 5 carried full
    *     shingle ARRAYS through two joins, ~5× floor; the first narrow
    *     rewrite still fanned every pair back out against the exploded
    *     stream, ~2.5× floor — this form adds NOTHING to the join that
    *     candidate generation wasn't already paying for).
    *  2. shared-hot comes from the same pair-count join restricted to
    *     HOT occurrences (df > maxDf) — by construction the boilerplate
    *     minority of the stream (empty on current testdata, a few
    *     shingles per doc on a natural corpus), restricted to candidate
    *     pairs before it can fan out, so each side stays linear.
    *
    * The union term joins per-doc COUNTS only. Every key in every
    * shuffle is a long or a pair of longs (shingles ride as xxhash64
    * keys, see [[shingles]]) with bounded df — no arrays, no strings,
    * no unbounded key. The SQL oracle encodes the identical rule over
    * the shingle STRINGS, so the gate stays sensitive to the hashing. */
  def jaccardPairs(docs: DataFrame, tau: Double, maxDf: Int = JACCARD_MAX_DF): DataFrame = {
    val (sh, pairs) = jaccardPairsLazy(docs, tau, maxDf)
    val out = pairs.localCheckpoint() // pair-set-sized eager pin
    sh.unpersist(blocking = false)
    out
  }

  /** The lazy pair query plus its cached shingle intermediate, for plan
    * inspection (PlanSpec pins the narrow-verify shape, which the
    * public method's eager pin hides behind a LogicalRDD scan). The
    * caller owns releasing `sh`; [[jaccardPairs]] is the only
    * production entry and does so after pinning the result. The cache
    * is columnar on purpose — each of the four consumers prunes to the
    * columns it reads; a checkpointed intermediate deserializes FULL
    * rows per consumer and read 2.2x normalized on the dress bench. */
  private[graft] def jaccardPairsLazy(docs: DataFrame, tau: Double,
      maxDf: Int = JACCARD_MAX_DF): (DataFrame, DataFrame) = {
    val sh = shingles(docs).cache()
    val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // ONE stream⋈df join; the rare/hot split is a filter on the SAME
    // lineage (two separate joins executed the probe side twice)
    val tagged = sh.join(df, "s")
    val hot = tagged.filter(col("df") > maxDf).select("doc_id", "s")
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    // Shared-rare pair counts WITHOUT a self-join: a rare group holds
    // ≤ maxDf doc_ids BY CONSTRUCTION (the df cap), so its pairs unfold
    // in-expression from one bounded sorted array per shingle — ≤ 2 KB
    // of agg buffer per group at any corpus size, and the pair volume is
    // identical to what the join emitted. The aliased self-join form
    // executed its WHOLE rare subtree twice: Spark's exchange reuse does
    // not fire across the self-join's deduplicated attribute lineages
    // (measured on this plan: 9 exchanges, 0 reused, df agg + rare join
    // both doubled — broadcast on or off), so the stream shuffled by s
    // four times; this form shuffles it twice (df agg + the tagged
    // probe) and the post-join groupBy(s) rides the join's partitioning.
    val interRare = tagged.filter(col("df") <= maxDf)
      .groupBy(col("s"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), y -> " +
          "named_struct('a_id', x, 'b_id', y))))")).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(count(lit(1)).as("ir"))
    val interHot = interRare.select("a_id", "b_id")
      .join(hot.select(col("doc_id").as("a_id"), col("s")), "a_id")
      .join(hot.select(col("doc_id").as("b_id"), col("s")), Seq("b_id", "s"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("ih"))
    val pairs = interRare
      .join(interHot, Seq("a_id", "b_id"), "left")
      .withColumn("inter", col("ir") + coalesce(col("ih"), lit(0L)))
      .join(cnt.select(col("doc_id").as("a_id"), col("c").as("ca")), "a_id")
      .join(cnt.select(col("doc_id").as("b_id"), col("c").as("cb")), "b_id")
      .filter(col("inter").cast("double") /
        (col("ca") + col("cb") - col("inter")) >= tau)
      .select("a_id", "b_id")
    (sh, pairs)
  }

  // --- exact dedup: keep the lowest doc_id per identical text ---------------
  /** Group key = (md5, length, xxhash64) of the text, never the text: the
    * naive groupBy(text) shuffles the WHOLE CORPUS as map-output keys —
    * at 100 TB that is 100 TB of shuffle for a result that only needs
    * group identity. The composite 200-bit fingerprint shrinks the
    * shuffle to ~50 bytes/doc; a false merge needs a simultaneous
    * md5+xxhash64+length collision between distinct texts (< 2^-190
    * birthday term at any conceivable corpus size — strictly tighter
    * than the hardware's own undetected-error rates). Map-side partial
    * aggregation still applies; the oracle groups by the full text. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(md5(col("text")), length(col("text")), xxhash64(col("text")))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
      .orderBy("doc_id")

  def jaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(Tables(spark, dir, "documents"), 0.6).orderBy("a_id", "b_id")

  // --- MinHash + LSH banding -------------------------------------------------
  // K hashes, BANDS bands of R rows. Candidates collide on a band signature;
  // candidates are then verified with true Jaccard, so the output equals the
  // exact Jaccard(tau) pair set with miss probability (1 - tau^R)^BANDS per
  // pair (~4e-8 at tau = 0.9) — tight enough to share the SQL oracle.
  val K = 64; val BANDS = 16; val R = 4

  /** One JVM pass per doc computing the K-hash MinHash signature and its
    * band signatures. Replicates Spark's `xxhash64(s, j)` chain exactly
    * (XXH64 over the UTF-8 bytes seeded 42, then the int j folded in) so
    * candidates are bit-identical to the expression form — higher-order
    * transform() lambdas evaluate interpreted, which made the pure-SQL
    * version the slowest query in the bench. */
  private[ops] def bandSigs(arr: DataFrame): DataFrame = {
    val spark = arr.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    arr.select(col("doc_id"), col("sh")).as[(Long, Seq[String])]
      .flatMap { case (id, sh) =>
        val mh = Array.fill(K)(Long.MaxValue)
        sh.foreach { s =>
          val base = XXH64.hashUTF8String(UTF8String.fromString(s), 42L)
          var j = 0
          while (j < K) {
            val h = XXH64.hashInt(j, base)
            if (h < mh(j)) mh(j) = h
            j += 1
          }
        }
        (0 until BANDS).map { b =>
          var sig = 42L
          var k = 0
          while (k < R) { sig = XXH64.hashLong(mh(b * R + k), sig); k += 1 }
          sig = XXH64.hashInt(b, sig)
          (id, b, sig)
        }
      }
      .toDF("doc_id", "band", "sig")
  }

  /** LSH candidates verified with exact Jaccard over the full shingle
    * sets (narrow form, [[verifyExactJaccard]]) — the output equals the
    * exact Jaccard(tau) pair set up to the banding miss probability
    * (~4e-8 per pair at the planted-dup similarity). The LSH filter
    * keeps verification linear in candidates, never the full self-join.
    * Unordered; shared by [[minhash]] and CorpusGraph. */
  def minhashVerifiedPairs(docs: DataFrame, tau: Double): DataFrame = {
    // columnar cache + eager pair-set pin + release, the [[jaccardPairs]]
    // session-hygiene pattern
    val arr = shingleArr(docs).cache()
    val (sigs, lazyPairs) = minhashVerifiedLazy(arr, tau)
    val out = lazyPairs.localCheckpoint()
    sigs.unpersist(blocking = false)
    arr.unpersist(blocking = false)
    out
  }

  /** Lazy LSH-candidates + exact-verify plan over a PRE-MATERIALIZED
    * shingle-array frame — the caller owns `arr`'s cache lifecycle,
    * AND the returned signature cache's: the K-hash signature pass is
    * the method's dominant map cost and the band self-join would
    * execute it TWICE (exchange reuse does not fire across self-join
    * lineages — the jaccard plan finding), so the (doc_id, band, sig)
    * table caches — 16 rows × 24 bytes per doc at any corpus size —
    * and the caller releases it after pinning the pair set. Split out
    * (round 13) so [[dedupEval]] can share ONE shingle materialization
    * between its ground-truth join and this method row. */
  private[ops] def minhashVerifiedLazy(arr: DataFrame,
      tau: Double): (DataFrame, DataFrame) = {
    val sigs = bandSigs(arr).drop("sh").cache()
    val cand = sigs.as("a").join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    (sigs, verifyExactJaccard(cand,
      arr.select(col("doc_id"), explode(col("sh")).as("s0"))
        .select(col("doc_id"), xxhash64(col("s0")).as("s")), tau))
  }

  def minhash(spark: SparkSession, dir: String): DataFrame =
    minhashVerifiedPairs(Tables(spark, dir, "documents"), 0.5)
      .orderBy("a_id", "b_id")

  // --- SimHash ---------------------------------------------------------------
  // 64-bit token-hash sign aggregation; near-dup candidates share one of four
  // 16-bit blocks; verified by Hamming distance <= 6. The SQL oracle replays
  // fnv1a64+fmix exactly in DuckDB: unsigned 64-bit arithmetic emulated in
  // HUGEINT, with the 64x64-bit wrapping multiplies split into 32-bit halves.
  /** FNV-1a 64-bit with an fmix64 finalizer — deterministic, well-mixed
    * token hash for simhash (no SQL oracle constrains the hash choice;
    * output is pinned by the recall spec, and raw FNV's weak low-bit
    * avalanche measurably costs recall) */
  private def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** one tight JVM pass per doc: hash each token once, accumulate the 64
    * per-bit sign counts in a primitive array — no exploded rows, no
    * shuffle, no per-bit lambda interpretation */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val counts = new Array[Int](64)
        text.split(' ').foreach { tok =>
          val h = fnv1a64(tok)
          var b = 0
          while (b < 64) {
            counts(b) += ((((h >>> b) & 1L).toInt) << 1) - 1
            b += 1
          }
        }
        var sig = 0L
        var b = 0
        while (b < 64) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
        (id, sig)
      })
      .toDF("doc_id", "simhash")
  }

  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // the signature pass (one fnv1a64 per token, 64 sign counters) is
    // the dominant map cost, and the block self-join would execute it
    // TWICE (exchange reuse does not fire across self-join lineages —
    // the jaccard plan finding). The (doc_id, simhash) table is 16
    // bytes/doc at ANY corpus size: cache it, pin the pair set eagerly,
    // release — the [[jaccardPairs]] session-hygiene pattern.
    val sig = simhashSignatures(Tables(spark, dir, "documents")).cache()
    val blocks = sig.select(col("doc_id"), col("simhash"), posexplode(expr(
      "transform(sequence(0, 3), i -> (shiftright(simhash, i * 16) & 65535))"))
      .as(Seq("blk", "blk_val")))
    val out = blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.blk_val") === col("b.blk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        expr("bit_count(a.simhash ^ b.simhash)").cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .localCheckpoint() // pair-set-sized eager pin
    sig.unpersist(blocking = false)
    out.orderBy("a_id", "b_id")
  }

  // --- benchmark decontamination: n-gram overlap vs a held-out eval set ----

  /** Training-corpus decontamination — the pre-training check that flags
    * documents sharing any 13-word-gram with an evaluation benchmark
    * (`doc_id % 20 == 0` stands in for the benchmark split). Scale shape:
    * the benchmark gram set is tiny next to the corpus, so it broadcasts;
    * the corpus side is one linear explode with NO shuffle before the
    * join — at 100 TB the cost is a scan plus a map-side hash probe. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // 13-grams ride as xxhash64 longs (the [[shingles]] key-width rule):
    // the gram's text never surfaces — the benchmark set is probed for
    // membership and hits are countDistinct'd — so the BROADCAST side
    // shrinks ~11x (a ~90-byte gram string vs 8 bytes; at a real
    // benchmark-suite size that is the difference between a broadcast
    // that fits executor memory and one that does not) and both gram
    // shuffles move longs. The oracle stays on the strings.
    val grams = Tables(spark, dir, "documents")
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 13)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 13), " +
          "i -> xxhash64(concat_ws(' ', slice(w, i + 1, 13))))")).as("g"))
    val bench = grams.filter(col("doc_id") % 20 === 0).select("g").distinct()
    val corpus = grams.filter(col("doc_id") % 20 =!= 0)
    corpus.join(broadcast(bench), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hits"))
      .orderBy("doc_id")
  }

  // --- cross-source priority dedup ------------------------------------------

  /** Source-priority canonicalization: docs whose bag of words is identical
    * (same DISTINCT token set — the cheap family key that catches reshuffled
    * near-copies exact hashing misses) collapse to ONE representative, chosen
    * by source priority (src0 beats src1 beats ...), then lowest doc_id. The
    * production use is "prefer the curated mirror over the crawl copy" when
    * the same page arrives from several feeds.
    *
    * Scale shape: the shuffle key is a 32-hex md5 of the sorted token set —
    * never the full text — so the groupBy moves (key, doc_id, source, prio)
    * only; one partial-agg shuffle total. min_by over a (prio, doc_id)
    * struct picks the winner in the same pass that sizes the family. */
  /** bag-of-words family key: md5 of the sorted distinct token set —
    * shared by [[priority]] and the composed pipeline ([[Pipeline]]) so
    * the standalone and composed operators can never silently diverge */
  private[ops] def familyKey: org.apache.spark.sql.Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))

  /** the DuckDB replica of [[familyKey]] */
  private[ops] val familySql: String =
    "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))"

  def priority(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("fam", familyKey)
      // unbounded suffix parse, aligned with the oracle's substr(source, 4);
      // Spark's cast yields NULL on a non-numeric suffix and TRY_CAST
      // mirrors that on the DuckDB side. NULL ordering diverges between
      // the engines (Spark struct comparison sorts NULL first, DuckDB's
      // ORDER BY defaults NULLS LAST), so pin the semantics explicitly:
      // an unparseable source is LOWEST priority (Long.MaxValue sentinel
      // here, NULLS LAST spelled out in the oracle)
      .withColumn("prio", coalesce(
        expr("CAST(substring(source, 4) AS BIGINT)"), lit(Long.MaxValue)))
      .groupBy(col("fam"))
      .agg(
        min_by(struct(col("doc_id"), col("source")),
          struct(col("prio"), col("doc_id"))).as("w"),
        count(lit(1)).as("fam_size"))
      .select(col("w.doc_id").as("doc_id"), col("w.source").as("source"),
        col("fam_size"))
      .orderBy("doc_id")

  // --- span-level exact dedup (boilerplate stripping) -----------------------

  /** Fixed-width span dedup: texts chop into 20-word chunks; the first
    * occurrence of each distinct chunk (lowest doc_id, then chunk index)
    * survives, later repeats are flagged for removal — the cheap pass that
    * strips repeated boilerplate spans without dropping whole documents.
    * One shuffle, keyed by the chunk's (xxhash64, length) fingerprint,
    * never the chunk text: the window's exchange would otherwise carry
    * the whole lowercased corpus as partition keys (the [[exact]]/
    * [[shingles]] key-width rule; the oracle stays on the strings). */
  def dedupSpan(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables(spark, dir, "documents")
      .withColumn("w", split(lower(col("text")), " "))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, cast(ceil(size(w) / 20.0) as int)), " +
          "i -> named_struct('ci', cast(i as bigint), " +
          "'ck', xxhash64(concat_ws(' ', slice(w, (i - 1) * 20 + 1, 20))), " +
          "'cl', length(concat_ws(' ', slice(w, (i - 1) * 20 + 1, 20)))))")).as("c"))
      .select(col("doc_id"), col("c.ci"), col("c.ck"), col("c.cl"))
    val firstWins = Window.partitionBy(col("ck"), col("cl"))
      .orderBy(col("doc_id"), col("ci"))
    chunks.withColumn("rn", row_number().over(firstWins))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_removed"))
      .filter(col("n_removed") > 0)
      .orderBy("doc_id")
  }

  /** Dedup-method evaluation MATRIX: each production candidate method's
    * pair set scored against UNCAPPED exact-Jaccard(0.6) ground truth —
    * one row per method with tp/fp/fn plus integer precision/recall
    * percentages. Methods:
    *
    *  - `jaccard_capped`  — the deployed df-capped candidate path
    *    (measures what the skew cap costs: a pair sharing only hot
    *    shingles is the one shape it can miss);
    *  - `minhash_lsh`     — LSH banding + exact verify at the SAME tau
    *    (precision is 100 by construction; recall measures banding
    *    misses);
    *  - `simhash`         — Hamming-band pairs (detects a different
    *    similarity notion than shingle-Jaccard; the row quantifies
    *    exactly that gap on the corpus at hand).
    *
    * Ground truth is the only uncapped pair join in the codebase and is
    * evaluation-only by design. Like the ANN recall harness this is pure
    * composition — methods AND their oracles compose the same way, so the
    * cross-engine gate checks the evaluation numbers themselves. */
  def dedupEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // ONE uncapped candidate self-join yields BOTH the ground truth and
    // the jaccard_capped method row: each pair carries its total shared
    // shingles (the exact intersection) and its shared RARE (df <= cap)
    // shingles — a pair is in the capped method's output iff it shares
    // >= 1 rare shingle, which is exactly the production candidate rule.
    // rareness is a property of the shingle, so min(a.r, b.r) = r.
    // ONE shingle materialization feeds BOTH the truth/capped side and
    // the minhash_lsh method row (round 13): tokenize+shingle is the
    // dominant map cost, and the round-12 shape paid it twice — once
    // building the exploded truth stream, once inside
    // minhashVerifiedPairs' own shingleArr pass. The array form caches
    // columnar; the exploded stream derives from it (explode from a
    // cached array column is cheap CPU, no re-scan) and caches too for
    // its five consumers. Both release after the eager pins below —
    // the [[jaccardPairs]] session-hygiene pattern.
    val arr = shingleArr(docs).cache()
    val sh = arr.select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s")).cache()
    val dfc = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val tagged = sh.join(dfc, "s")
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    // A shared shingle is rare for BOTH docs or hot for BOTH (rareness is
    // a property of the shingle), so the uncapped intersection splits
    // exactly: shared-rare from the bounded-group unfold (≤ maxDf doc_ids
    // per group — no self-join, the [[jaccardPairsLazy]] shape), plus
    // shared-hot from a self-join restricted to the HOT MINORITY of the
    // stream. The old full-stream self-join executed the whole tagged
    // subtree twice (exchange reuse never fires across self-join
    // lineages) and remains quadratic in hot df either way — that
    // quadratic truth cost is this harness's reason to exist, but only
    // the hot slice need pay it.
    val rarePairs = tagged.filter(col("df") <= JACCARD_MAX_DF)
      .groupBy(col("s"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), y -> " +
          "named_struct('a_id', x, 'b_id', y))))")).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(count(lit(1)).as("rc"))
    val hotOcc = tagged.filter(col("df") > JACCARD_MAX_DF).select("doc_id", "s")
    val hotPairs = hotOcc.as("a").join(hotOcc.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("hc"))
    val scored = rarePairs.join(hotPairs, Seq("a_id", "b_id"), "full_outer")
      .select(col("a_id"), col("b_id"),
        (coalesce(col("rc"), lit(0L)) + coalesce(col("hc"), lit(0L))).as("inter"),
        coalesce(col("rc"), lit(0L)).as("rare_inter"))
      .join(cnt.select(col("doc_id").as("a_id"), col("c").as("ca")), "a_id")
      .join(cnt.select(col("doc_id").as("b_id"), col("c").as("cb")), "b_id")
      .filter(col("inter").cast("double") /
        (col("ca") + col("cb") - col("inter")) >= 0.6)
      .select(col("a_id"), col("b_id"), col("rare_inter"))
      .localCheckpoint() // joined once per method row; eager, so sh releases now
    // the minhash method row reuses the SAME materialized shingle arrays;
    // its pair set pins eagerly (pair-set-sized) before the caches drop
    val (mhSigs, mhLazy) = minhashVerifiedLazy(arr, 0.6)
    val mhPairs = mhLazy.localCheckpoint()
    mhSigs.unpersist(blocking = false)
    sh.unpersist(blocking = false)
    arr.unpersist(blocking = false)
    val truth = scored.select(col("a_id"), col("b_id")).withColumn("tm", lit(1L))
    val capped = scored.filter(col("rare_inter") >= 1L).select("a_id", "b_id")
    def score(method: String, pairs: DataFrame): DataFrame =
      truth.join(pairs.select(col("a_id"), col("b_id")).withColumn("cm", lit(1L)),
          Seq("a_id", "b_id"), "full_outer")
        .select(coalesce(col("tm"), lit(0L)).as("tm"),
          coalesce(col("cm"), lit(0L)).as("cm"))
        .agg(
          sum(when(col("tm") === 1L && col("cm") === 1L, 1L).otherwise(0L)).as("tp"),
          sum(when(col("tm") === 0L && col("cm") === 1L, 1L).otherwise(0L)).as("fp"),
          sum(when(col("tm") === 1L && col("cm") === 0L, 1L).otherwise(0L)).as("fn"))
        .select(lit(method).as("method"), col("tp"), col("fp"), col("fn"),
          expr("CASE WHEN tp + fp = 0 THEN 0L ELSE tp * 100 div (tp + fp) END")
            .as("precision_pct"),
          expr("CASE WHEN tp + fn = 0 THEN 0L ELSE tp * 100 div (tp + fn) END")
            .as("recall_pct"))
    // exact-text row: the cheapest method — fingerprint-equal full texts
    // ((md5, length, xxhash64), the [[exact]] composite: carrying the
    // text itself as join payload would re-shuffle the corpus this row
    // exists to avoid). On a near-dup truth its recall quantifies how
    // much a pipeline loses by stopping at exact dedup (the usual
    // production baseline).
    val h = docs.select(col("doc_id"), md5(col("text")).as("hx"),
      length(col("text")).as("hl"), xxhash64(col("text")).as("hh"))
    val exactPairs = h.as("a").join(h.as("b"),
        col("a.hx") === col("b.hx") && col("a.hl") === col("b.hl") &&
          col("a.hh") === col("b.hh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    score("exact_text", exactPairs)
      .unionByName(score("jaccard_capped", capped))
      .unionByName(score("minhash_lsh", mhPairs))
      .unionByName(score("simhash", simhash(spark, dir)))
      .orderBy("method")
  }

  val queries: Map[String, Q] = Map(
    "q_dedup_eval" -> dedupEval,
    "q_dedup_exact" -> exact,
    "q_dedup_jaccard" -> jaccard,
    "q_dedup_minhash" -> minhash,
    "q_dedup_simhash" -> simhash,
    "q_decontaminate" -> decontaminate,
    "q_dedup_priority" -> priority,
    "q_dedup_span" -> dedupSpan)

  private val jaccardOracle =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
      |), cnt AS (
      |  SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
      |), pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT a_id, b_id FROM pairs
      | JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= %TAU%
      |ORDER BY a_id, b_id""".stripMargin

  /** Capped-candidate replica of [[jaccardPairs]]: candidates must share
    * a shingle with df ≤ %MAXDF%; the Jaccard value itself is computed
    * over the FULL shingle sets (`pairs` joins `sh`, not `rare`) — the
    * same generate-capped / verify-exact split as the Spark side. */
  private val jaccardCappedOracle =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
      |), cnt AS (
      |  SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
      |), rare AS (
      |  SELECT sh.doc_id, sh.s FROM sh
      |  JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= %MAXDF%) r
      |    ON sh.s = r.s
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
      |), pairs AS (
      |  SELECT c.a_id, c.b_id, count(*) AS inter
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.a_id
      |  JOIN sh b ON b.doc_id = c.b_id AND b.s = a.s
      |  GROUP BY 1, 2
      |)
      |SELECT a_id, b_id FROM pairs
      | JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= %TAU%
      |ORDER BY a_id, b_id""".stripMargin

  /** (h * c) mod 2^64 with h an unsigned-64 value held in HUGEINT and c a
    * 64-bit constant: split h into 32-bit halves so no intermediate product
    * overflows INT128. cLo = c mod 2^32. */
  private def sqlMulMod(h: String, c: String, cLo: String): String =
    s"((($h) % 4294967296) * $c + " +
      s"(((($h) // 4294967296) * $cLo) % 4294967296) * 4294967296) " +
      "% 18446744073709551616"

  /** DuckDB replica of [[fnv1a64]]: documents are ASCII, so unicode(char)
    * equals the UTF-8 byte. Emits one row per token occurrence with the
    * unsigned 64-bit hash `h` (HUGEINT). */
  private val sqlTokenHash =
    s"""toks AS (
       |  SELECT doc_id, u.tok FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
       |), f0 AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |        list_transform(range(1, length(tok) + 1),
       |          i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))),
       |      (h, b) -> (xor(h, b) * 1099511628211) % 18446744073709551616) AS h0
       |  FROM toks
       |), f1 AS (SELECT doc_id, xor(h0, h0 // 8589934592) AS a1 FROM f0),
       |f2 AS (SELECT doc_id, ${sqlMulMod("a1", "18397679294719823053", "3981806797")} AS h1 FROM f1),
       |f3 AS (SELECT doc_id, xor(h1, h1 // 8589934592) AS a2 FROM f2),
       |f4 AS (SELECT doc_id, ${sqlMulMod("a2", "14181476777654086739", "444984403")} AS h2 FROM f3),
       |th AS (SELECT doc_id, xor(h2, h2 // 8589934592) AS h FROM f4)""".stripMargin

  private val simhashOracle =
    s"""WITH $sqlTokenHash,
       |bits AS (
       |  SELECT doc_id, b,
       |    SUM(CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1
       |             THEN 1 ELSE -1 END) AS cnt
       |  FROM th, UNNEST(range(0, 64)) bb(b)
       |  GROUP BY doc_id, b
       |), sig AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN cnt > 0 THEN CAST(power(2, b) AS HUGEINT)
       |             ELSE CAST(0 AS HUGEINT) END) AS sigu
       |  FROM bits GROUP BY doc_id
       |), sigs AS (
       |  SELECT doc_id, sigu,
       |    CASE WHEN sigu >= 9223372036854775808
       |         THEN CAST(sigu - 18446744073709551616 AS BIGINT)
       |         ELSE CAST(sigu AS BIGINT) END AS sg
       |  FROM sig
       |), blocks AS (
       |  SELECT doc_id, sg, blk,
       |    CAST((sigu // CAST(power(2, 16 * blk) AS HUGEINT)) % 65536 AS BIGINT) AS blk_val
       |  FROM sigs, UNNEST(range(0, 4)) bb(blk)
       |)
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.sg, b.sg)) AS BIGINT) AS hamming
       |FROM blocks a JOIN blocks b
       |  ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sg, b.sg)) <= 6
       |ORDER BY a_id, b_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         array_to_string(w[CAST(u.i AS INT):CAST(u.i + 12 AS INT)], ' ') AS g
        |  FROM tok, UNNEST(range(1, len(w) - 11)) AS u(i)
        |  WHERE len(w) >= 13),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
        |corp AS (SELECT doc_id, g FROM grams WHERE doc_id % 20 != 0)
        |SELECT doc_id, count(DISTINCT corp.g) AS n_hits
        |FROM corp JOIN bench USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_span" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |chunks AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS ci,
        |         array_to_string(
        |           w[CAST((u.i - 1) * 20 + 1 AS INT):CAST(u.i * 20 AS INT)], ' ') AS chunk
        |  FROM tok, UNNEST(range(1, CAST(ceil(len(w) / 20.0) AS BIGINT) + 1)) AS u(i)),
        |rn AS (
        |  SELECT doc_id, ci,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rn
        |  FROM chunks)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        |FROM rn GROUP BY doc_id
        |HAVING CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) > 0
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id",
    "q_dedup_priority" ->
      s"""WITH fam AS (
        |  SELECT doc_id, source, $familySql AS fam,
        |    TRY_CAST(substr(source, 4) AS BIGINT) AS prio
        |  FROM documents),
        |sized AS (SELECT fam, COUNT(*) AS fam_size FROM fam GROUP BY fam),
        |pick AS (
        |  SELECT doc_id, source, fam,
        |    row_number() OVER (PARTITION BY fam ORDER BY prio NULLS LAST, doc_id) AS rn
        |  FROM fam)
        |SELECT p.doc_id, p.source, s.fam_size
        |FROM pick p JOIN sized s USING (fam)
        |WHERE rn = 1 ORDER BY p.doc_id""".stripMargin,
    "q_dedup_jaccard" -> jaccardCappedOracle.replace("%TAU%", "0.6")
      .replace("%MAXDF%", JACCARD_MAX_DF.toString),
    "q_dedup_minhash" -> jaccardOracle.replace("%TAU%", "0.5"),
    "q_dedup_eval" -> dedupEvalOracle,
    "q_dedup_simhash" -> simhashOracle)

  /** one matrix row: `method`'s pair set vs the uncapped Jaccard(0.6)
    * truth — the SQL twin of dedupEval.score */
  private def evalRowSql(method: String, candSql: String): String =
    s"""SELECT '$method' AS method, tp, fp, fn,
       |  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 100 // (tp + fp) END AS BIGINT)
       |    AS precision_pct,
       |  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 100 // (tp + fn) END AS BIGINT)
       |    AS recall_pct
       |FROM (
       |  SELECT
       |    CAST(SUM(CASE WHEN tm = 1 AND cm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN tm = 0 AND cm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN tm = 1 AND cm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM (
       |    SELECT COALESCE(t.tm, 0) AS tm, COALESCE(c.cm, 0) AS cm
       |    FROM (SELECT a_id, b_id, 1 AS tm
       |          FROM ( ${jaccardOracle.replace("%TAU%", "0.6")} )) t
       |    FULL OUTER JOIN (SELECT a_id, b_id, 1 AS cm FROM ( $candSql )) c
       |      ON t.a_id = c.a_id AND t.b_id = c.b_id
       |  )
       |)""".stripMargin

  /** Matrix oracle. The minhash_lsh row composes the EXACT Jaccard(0.6)
    * oracle as its candidate set — i.e. it asserts banding loses nothing
    * on this corpus (pair similarities sit far above tau, where the
    * per-pair band-miss probability is ~1e-7); a Spark-side banding miss
    * fails the gate. */
  private def dedupEvalOracle: String =
    Seq(
      evalRowSql("exact_text",
        """SELECT a.doc_id AS a_id, b.doc_id AS b_id
          |FROM documents a JOIN documents b
          |  ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin),
      evalRowSql("jaccard_capped", jaccardCappedOracle
        .replace("%TAU%", "0.6").replace("%MAXDF%", JACCARD_MAX_DF.toString)),
      evalRowSql("minhash_lsh", jaccardOracle.replace("%TAU%", "0.6")),
      evalRowSql("simhash",
        s"SELECT a_id, b_id FROM ( $simhashOracle )"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY method")
}
