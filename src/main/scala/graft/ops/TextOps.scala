package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** Text-analysis operators for LLM training-data pipelines (SURVEY.md §2.3):
  * token counting, quality scoring, language ID, document fingerprinting.
  * Everything is a codegen'd built-in-function pipeline — no UDFs — so the
  * whole stage fuses into one pass over the documents table.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  /** BPE-ish pre-tokenizer: letter runs | digit runs | single symbol. */
  val SubtokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  private def words(c: Column): Column = split(c, " ")

  /** Broadcast a DATA-DEPENDENT small side only while it is actually
    * small — enforced in code, not scaladoc prose. The vocabulary DF
    * table (keyword_terms, bm25) and the per-source frequent-segment set
    * (boilerplate) are corpus-derived: tiny at test SF, unbounded on
    * noisy web text (#sources × templates, vocabulary of 10⁸-source
    * crawl). The side is pinned once (localCheckpoint — one
    * materialization shared by the row count and the join), counted,
    * and broadcast only at or under the tunable row bound
    * (`graft.text.bcast.rows` system property, default 4M); past it the caller's equi-join falls back to a
    * shuffle — the exact [[graft.table.GraftTable.merge]] bcast-gate
    * pattern (same default bound). PlanSpec pins BroadcastHashJoin at
    * test scale AND drives the fallback (bound=0) to the same result. */
  private[ops] def gatedBroadcast(df: DataFrame): DataFrame = {
    val bound = sys.props.get("graft.text.bcast.rows")
      .flatMap(_.toLongOption).getOrElse(4000000L)
    val pinned = df.localCheckpoint()
    if (pinned.count() <= bound) broadcast(pinned) else pinned
  }

  private def countIn(markers: Seq[String]): Column = {
    val pred = markers.map(m => s"w = '$m'").mkString(" OR ")
    expr(s"size(filter(split(text, ' '), w -> $pred))").cast(LongType)
  }

  // --- token counting --------------------------------------------------------
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(words(col("text"))).cast(LongType).as("n_tokens"),
        regexp_count(col("text"), lit(SubtokenRegex)).cast(LongType).as("n_subtokens"),
        length(col("text")).cast(LongType).as("n_chars"))
      .orderBy("doc_id")

  // --- quality scoring -------------------------------------------------------
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is")
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(words(col("text"))).cast(LongType).as("n_words"),
        countIn(stop).as("n_stopwords"),
        regexp_count(col("text"), lit("[.,!?;:]")).cast(LongType).as("n_punct"))
      .withColumn("mean_word_len",
        (col("n_chars") - (col("n_words") - 1)).cast("double") / col("n_words"))
      .withColumn("stopword_ratio", col("n_stopwords").cast("double") / col("n_words"))
      .orderBy("doc_id")
  }

  // --- language identification (marker-token heuristic) ----------------------
  // argmax over marker counts; ties resolve to the lexicographically greatest
  // language code via the zero-padded count||code "greatest" trick, which both
  // engines evaluate identically.
  def langid(spark: SparkSession, dir: String): DataFrame = {
    val markers = Seq(
      "de" -> Seq("der", "die", "und", "nicht"),
      "en" -> Seq("the", "a", "and", "is"),
      "es" -> Seq("el", "los", "y", "que"),
      "fr" -> Seq("le", "la", "et", "les"),
      "zh" -> Seq("的", "是"))
    val tagged = markers.map { case (code, ws) =>
      concat(lpad(countIn(ws).cast("string"), 10, "0"), lit(code))
    }
    Tables(spark, dir, "documents")
      .select(col("doc_id"), substring(greatest(tagged: _*), 11, 2).as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Classifier evaluation: confusion matrix of the langid heuristic
    * against the labeled `lang` column — the eval loop every pipeline
    * classifier needs (precision per class falls straight out of the
    * matrix). One scoring pass + one 25-cell aggregation. */
  def langidEval(spark: SparkSession, dir: String): DataFrame = {
    val markers = Seq(
      "de" -> Seq("der", "die", "und", "nicht"),
      "en" -> Seq("the", "a", "and", "is"),
      "es" -> Seq("el", "los", "y", "que"),
      "fr" -> Seq("le", "la", "et", "les"),
      "zh" -> Seq("的", "是"))
    val tagged = markers.map { case (code, ws) =>
      concat(lpad(countIn(ws).cast("string"), 10, "0"), lit(code))
    }
    Tables(spark, dir, "documents")
      .select(col("lang"), substring(greatest(tagged: _*), 11, 2).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  // --- character-distribution quality signals -------------------------------
  /** Gini impurity of the character distribution (1 - Σ p²) plus digit /
    * uppercase ratios — the repetitiveness/formatting signals a corpus
    * quality filter cuts on. Gini instead of entropy ON PURPOSE: log()
    * differs in the last ulp across math libraries, while p = c/n, p², and
    * an ascending-char-code summation are exact IEEE steps both engines
    * reproduce bit-for-bit. One JVM pass per doc; ASCII corpus → int[128]
    * histogram. */
  def charStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val counts = new Array[Long](128)
        var digits = 0L
        var uppers = 0L
        text.foreach { ch =>
          counts(ch & 0x7f) += 1
          if (ch >= '0' && ch <= '9') digits += 1
          if (ch >= 'A' && ch <= 'Z') uppers += 1
        }
        val n = math.max(text.length, 1)
        var sumP2 = 0.0
        var c = 0
        while (c < 128) {
          if (counts(c) > 0) {
            val p = counts(c).toDouble / n
            sumP2 += p * p
          }
          c += 1
        }
        (id, 1.0 - sumP2, digits.toDouble / n, uppers.toDouble / n)
      })
      .toDF("doc_id", "gini", "digit_ratio", "upper_ratio")
      .orderBy("doc_id")
  }

  // --- document fingerprint ---------------------------------------------------
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        md5(lower(col("text")).cast("binary")).as("fp"))
      .orderBy("doc_id")

  // --- winnowing fingerprints (rolling hash) --------------------------------
  /** Winnowing document fingerprints: polynomial rolling hash over char
    * k-grams, then the minimum hash of each w-window (rightmost wins ties)
    * — the standard local-fingerprinting scheme for near-dup detection at
    * scale, guaranteeing any shared substring of length >= k+w-1 yields a
    * shared fingerprint. One JVM pass per doc. The rolling update
    * (h - c*B^(k-1))*B + c is ring arithmetic mod 2^64, so the hash of each
    * window equals the direct polynomial sum — which the DuckDB oracle
    * computes in HUGEINT with an explicit mod-2^64 wrap, then compares in
    * the signed-64 domain Java uses. */
  val WinnowK = 8
  val WinnowW = 4

  def winnow(text: String): Array[Long] = {
    val s = text.toCharArray
    if (s.length < WinnowK) return Array.empty
    val B = 1000003L
    var bk = 1L
    (1 until WinnowK).foreach(_ => bk *= B)
    val n = s.length - WinnowK + 1
    val hs = new Array[Long](n)
    var h = 0L
    var i = 0
    while (i < WinnowK) { h = h * B + s(i); i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = (h - s(i - 1) * bk) * B + s(i + WinnowK - 1)
      hs(i) = h
      i += 1
    }
    // rightmost-minimum per window of WinnowW hashes
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    var w0 = 0
    while (w0 <= n - WinnowW) {
      var best = w0
      var j = w0
      while (j < w0 + WinnowW) { if (hs(j) <= hs(best)) best = j; j += 1 }
      out += hs(best)
      w0 += 1
    }
    out.toArray
  }

  def fingerprintWinnow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val fps = winnow(text)
        (id, fps.length.toLong, if (fps.isEmpty) 0L else fps.min)
      })
      .toDF("doc_id", "n_fp", "min_fp")
      .orderBy("doc_id")
  }

  /** Near-dup CANDIDATE PAIRS from shared winnow fingerprints: docs meet
    * through an equi-join on the fingerprint value (the winnowing guarantee
    * makes any shared run of >= k+w-1 chars produce a shared fingerprint),
    * then pairs sharing >= WinnowPairMin distinct RARE fingerprints
    * survive. "Rare" = document frequency <= WinnowDfCap: an 8-gram that
    * appears in hundreds of documents ("and the ", " of the ") carries no
    * dedup signal but joins quadratically — the df cap is what bounds the
    * join fan-out to <= cap rows per key and keeps the whole operator an
    * ordinary shuffle at corpus scale (the same stop-key discipline every
    * production shingle join uses). Long planted duplicates share many
    * rare fingerprints, so recall on true near-dups is unaffected. */
  val WinnowPairMin = 3
  val WinnowDfCap = 10

  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE winnow pass: the fingerprint stream caches (16 bytes/row, a
    // winnowed SAMPLE of the character stream) — the aliased self-join
    // shape executed the corpus-scale winnow THREE times (the df
    // aggregation and both join sides; exchange reuse does not fire
    // across self-join lineages — the jaccard plan finding). Pair
    // generation is the bounded-group unfold: a kept fingerprint group
    // holds ≤ WinnowDfCap doc_ids (distinct per doc — winnow() returns
    // a set), so pairs unfold in-expression from one sorted array per
    // fingerprint, and the groupBy rides the semi-join's partitioning.
    val fps = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) => winnow(text).map(f => (id, f)) })
      .toDF("doc_id", "fp").cache()
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowDfCap)
      .select("fp")
    val out = fps.join(rare, Seq("fp"), "left_semi")
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), y -> " +
          "named_struct('a_id', x, 'b_id', y))))")).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowPairMin)
      .localCheckpoint() // pair-set-sized eager pin
    fps.unpersist(blocking = false)
    out.orderBy("a_id", "b_id")
  }

  // --- corpus curation: the full training-data filter in one pipeline ------
  /** exact-dedup → language filter → quality thresholds, composed the way a
    * production corpus build chains them: the dedup is a semi-join against
    * canonical ids (hash groupBy), scoring is one codegen'd pass, and the
    * whole thing is a single shuffle + broadcast-ish semi join. */
  /** shared lang-ID + quality scoring frame (doc_id, source, n_words,
    * swr, pred_lang) — one codegen'd pass over documents; used by
    * corpusFilter and the e2e pipeline composition ([[Pipeline]]) */
  private[ops] def langQualityScored(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is")
    val markers = Seq(
      "de" -> Seq("der", "die", "und", "nicht"),
      "en" -> Seq("the", "a", "and", "is"),
      "es" -> Seq("el", "los", "y", "que"),
      "fr" -> Seq("le", "la", "et", "les"),
      "zh" -> Seq("的", "是"))
    val tagged = markers.map { case (code, ws) =>
      concat(lpad(countIn(ws).cast("string"), 10, "0"), lit(code))
    }
    docs.select(
      col("doc_id"), col("source"),
      size(words(col("text"))).cast(LongType).as("n_words"),
      (countIn(stop).cast("double") /
        size(words(col("text")))).as("swr"),
      substring(greatest(tagged: _*), 11, 2).as("pred_lang"))
  }

  def corpusFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val scored = langQualityScored(docs)
    // fingerprint group key, never the text (the Dedup.exact rule)
    val canonical = docs
      .groupBy(md5(col("text")), length(col("text")), xxhash64(col("text")))
      .agg(min(col("doc_id")).as("doc_id"))
    scored.join(canonical.select("doc_id"), Seq("doc_id"), "left_semi")
      .filter(col("pred_lang") === "en" && col("n_words") >= 15 && col("swr") >= 0.03)
      .select("doc_id", "n_words", "pred_lang")
      .orderBy("doc_id")
  }

  // --- repetition signals (Gopher-style quality filters) ---------------------
  /** Per-document repetition metrics for filtering low-quality generated or
    * boilerplate text: duplicate-word fraction, the most frequent bigram's
    * share of all bigrams, and the longest run of one repeated word.
    * Every aggregation is keyed by doc_id, so the whole stage is
    * embarrassingly parallel at 100 TB — three doc-local aggregations
    * joined back on the document key, no global state. The run-length
    * metric is the gaps-and-islands pattern (position minus per-word rank
    * is constant within a run). */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docWords = Tables(spark, dir, "documents")
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("i", "w")))
    val perDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val bigrams = docWords
      .withColumn("w2", lead(col("w"), 1).over(perDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("w2")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")).cast("double") / sum(col("c")).cast("double"))
        .as("top_bigram_frac"))
    val dups = docWords.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), countDistinct(col("w")).as("ndw"))
      .select(col("doc_id"), col("n_words"),
        (lit(1.0) - col("ndw").cast("double") / col("n_words").cast("double"))
          .as("dup_word_frac"))
    val runRank = Window.partitionBy(col("doc_id"), col("w")).orderBy(col("i"))
    val runs = docWords
      .withColumn("grp", col("i") - row_number().over(runRank))
      .groupBy(col("doc_id"), col("w"), col("grp")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("max_run"))
    dups
      .join(bigrams, Seq("doc_id"), "left_outer")
      .join(runs, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("max_run"), lit(1L)).as("max_run"))
      .orderBy("doc_id")
  }

  // --- PII redaction --------------------------------------------------------

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII scrubbing for training corpora: regex redaction of emails and
    * phone numbers with per-language accounting. The synthetic corpus
    * carries no natural PII, so the query PLANTS deterministic addresses
    * and numbers first (mirrored exactly in the oracle) — the redaction
    * pass itself is the operator under test. Pure per-row codegen'd
    * expressions: no shuffle until the final small aggregate. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables(spark, dir, "documents").withColumn("txt", concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        lit(" call 555-123-4567 or 555-987-6543")).otherwise(lit(""))))
    val red = planted
      .withColumn("n_email", regexp_count(col("txt"), lit(EmailRe)))
      .withColumn("n_phone", regexp_count(col("txt"), lit(PhoneRe)))
      .withColumn("clean", regexp_replace(
        regexp_replace(col("txt"), EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"))
    red.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email")).cast("long").as("emails"),
        sum(col("n_phone")).cast("long").as("phones"),
        sum(length(col("txt")) - length(col("clean"))).cast("long").as("chars_removed"),
        min(md5(col("clean"))).as("md5_min"),
        max(md5(col("clean"))).as("md5_max"))
      .orderBy("lang")
  }

  // --- keyword extraction ---------------------------------------------------

  /** Per-document salient terms by TF/DF ratio (term frequency over corpus
    * document frequency — the broadcast-friendly cousin of TF-IDF with no
    * floating log): two passes over the token stream, the corpus DF table
    * is vocabulary-sized so it broadcasts onto the per-doc TF aggregate
    * via [[gatedBroadcast]] (vocabulary is data-dependent and unbounded
    * on noisy web text — past the row bound the join falls back to a
    * shuffle); ranking is a per-doc window. At 100 TB the heavy side
    * shuffles once (doc_id, w) for TF; DF rides a distinct + small agg. */
  def keywordTerms(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(gatedBroadcast(dfreq), "w")
      .withColumn("salience", col("tf").cast("double") / col("df"))
    val top = Window.partitionBy(col("doc_id"))
      .orderBy(col("salience").desc, col("w").asc)
    scored.withColumn("rk", row_number().over(top).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("w"), col("tf"), col("df"),
        col("salience"))
      .orderBy("doc_id", "rk")
  }

  // --- BM25 ranking ---------------------------------------------------------

  /** BM25 document ranking for a fixed term query (k1=1.2, b=0.75) — the
    * retrieval scorer on top of the inverted-index family (q_postings):
    * length-normalized TF saturation × rarity IDF. Corpus stats (N,
    * total length) are ONE broadcast row; per-term DF is query-term-sized
    * here (≤3 rows — tf is filtered to the query terms before DF) and
    * still goes through [[gatedBroadcast]] so the discipline holds if the
    * query-term list grows; the only big shuffle is the (doc, term) TF aggregate
    * over tokens matching the query terms — the token stream is filtered
    * BEFORE the shuffle, so cost scales with query-term frequency, not
    * corpus size. Per-term contributions are pivoted to fixed columns and
    * added left-to-right (no FP-sum order dependence); the final score is
    * floor-rounded to 1e-6 so ln() ULP skew between libm builds can't
    * break the oracle. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val qterms = Seq("hash", "join", "vector")
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val tf = toks.filter(col("w").isin(qterms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    val idf = log(((col("n_docs") - col("df")).cast("double") + lit(0.5))
      / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val denom = col("tf").cast("double") + lit(1.2) *
      (lit(1.0) - lit(0.75) + lit(0.75) * (col("dl").cast("double") / avgdl))
    val contrib = tf.join(gatedBroadcast(dfreq), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("w"),
        (idf * (col("tf").cast("double") * lit(2.2)) / denom).as("c"))
    val score = qterms.map(t =>
      coalesce(max(when(col("w") === t, col("c"))), lit(0.0)))
      .reduceLeft(_ + _)
    contrib.groupBy(col("doc_id"))
      .agg((floor(score * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  // --- LM quality scoring ---------------------------------------------------

  /** Bigram language-model quality scoring (the CCNet/Wikipedia-LM
    * filtering shape): train add-one-smoothed bigram MLE counts on the
    * corpus, score every document by mean log-probability, surface the 20
    * most "surprising" (lowest avg log-prob = noisiest) documents.
    *
    * Scale shape: the bigram stream is generated IN PLACE from each doc's
    * token array (transform over sequence — no join, no second shuffle);
    * model tables c2/c1 are vocabulary-sized and BROADCAST back onto the
    * stream (vocab² for a corpus is bounded; a giant vocab would flip
    * these to shuffle joins, same plan otherwise). Each ln(p) is rounded
    * to a scaled BIGINT before summing, so the per-doc reduction is exact
    * integer math — partition-order-independent AND immune to libm ULP
    * skew between Spark and DuckDB. */
  /** per-doc EXACT bigram-LM totals (doc_id, n_bigrams, s) with s the
    * scaled-integer sum of add-one-smoothed log-probs — shared by
    * q_lm_score and q_ccnet_buckets so both stay bit-identical to the
    * oracle (floats appear only at the final division) */
  private def bigramTotals(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
    val big = docs.select(col("doc_id"),
      explode(expr("transform(sequence(1, size(toks) - 1), " +
        "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = docs.select(explode(col("toks")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val p = (col("c2") + lit(1L)).cast("double") / (col("c1") + col("v")).cast("double")
    val lps = floor(log(p) * lit(100000000.0) + lit(0.5)).cast("long")
    big.join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(c1), "w1")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), lps.as("lps"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lps")).as("s"))
  }

  def lmScore(spark: SparkSession, dir: String): DataFrame =
    bigramTotals(spark, dir)
      .select(col("doc_id"), col("n_bigrams"),
        (col("s").cast("double") / lit(100000000.0)
          / col("n_bigrams").cast("double")).as("avg_lp"))
      .orderBy(col("avg_lp").asc, col("doc_id"))
      .limit(20)

  /** DSIR (Data Selection via Importance Resampling, Xie et al. 2023):
    * score every document by how much its hashed-unigram distribution
    * looks like a TARGET domain vs the RAW corpus — the principled
    * "select pretraining data that matches the domain you care about"
    * method. Features are hashed n-gram buckets (here unigrams → 1024
    * buckets via a small-modulus polynomial hash: every intermediate
    * stays < 2^40, so Spark longs and DuckDB BIGINTs agree without
    * overflow games); per-bucket add-one-smoothed log-ratios are
    * scaled-integer (floats only inside ln, rounded once), and a doc's
    * weight is the SUM of its tokens' bucket ratios.
    *
    * Scale shape: token-grain rows take two BROADCAST joins (the bucket
    * table is 1024 rows) and one doc-keyed partial-agg shuffle — no
    * token-keyed shuffle at all; the target/raw bucket histograms are
    * two map-side aggregations. At 100 TB the histograms are still 1024
    * rows each. */
  val DsirBuckets = 1024

  private def bucketCol(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    expr(s"aggregate(transform(split(${w.toString}, ''), ch -> ascii(ch)), " +
      s"0L, (h, c) -> (h * 31 + c) % 1048576) % $DsirBuckets")

  def dsir(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .withColumn("b", bucketCol(col("w")))
    val raw = toks.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = toks.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val totals = toks.agg(count(lit(1)).as("nr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
    val lr = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"), floor(
        (log((col("ct") + lit(1L)).cast("double") /
             (col("nt") + lit(DsirBuckets.toLong)).cast("double")) -
         log((col("cr") + lit(1L)).cast("double") /
             (col("nr") + lit(DsirBuckets.toLong)).cast("double")))
          * lit(100000000.0) + lit(0.5)).cast("long").as("lr"))
    toks.join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("lr")).as("dsir_scaled"))
      .orderBy(col("dsir_scaled").desc, col("doc_id"))
      .limit(50)
  }

  /** CCNet's corpus-curation split: per LANGUAGE, rank documents by LM
    * score and cut into head/middle/tail thirds — the canonical
    * quality-stratification step before mixing (head oversampled, tail
    * dropped or down-weighted). ntile over a per-language window: one
    * shuffle keyed by lang over DOC-grain rows (never tokens), so the
    * window input is |docs|, tiny next to the bigram pass that feeds it.
    * Ordering ties are doc_id-broken, so the cut is deterministic and
    * engine-independent (both sides divide the same exact integers). */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy((col("s").cast("double") / col("n_bigrams").cast("double")).asc,
        col("doc_id").asc)
    val lang = Tables(spark, dir, "documents").select(col("doc_id"), col("lang"))
    bigramTotals(spark, dir)
      .join(lang, "doc_id")
      .withColumn("t", ntile(3).over(w))
      .select(col("doc_id"), col("lang"),
        when(col("t") === 1, "head").when(col("t") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  // --- subword vocabulary induction -----------------------------------------

  /** Subword vocabulary candidates (the counting core of WordPiece/BPE
    * tokenizer training): every contiguous substring of length 2–6 of
    * every surface form, scored by total corpus occurrences. The heavy
    * trick: the corpus first collapses to the DISTINCT word bag with
    * counts (one shuffle over words — Zipf makes this tiny relative to
    * the token stream), then the substring explosion (≤ 5·len per word)
    * runs over the word BAG, not the corpus. Top-50 candidates emitted
    * with their document-form coverage. */
  def vocabCandidates(spark: SparkSession, dir: String): DataFrame = {
    val bag = Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val subs = bag.select(col("w"), col("n"),
      explode(expr(
        """flatten(transform(sequence(1, length(w)), i ->
          |  filter(transform(sequence(2, 6),
          |    l -> CASE WHEN i + l - 1 <= length(w)
          |              THEN substring(w, i, l) END),
          |    x -> x IS NOT NULL)))""".stripMargin)).as("sub"))
    subs.groupBy(col("sub"))
      .agg(sum(col("n")).as("freq"),
        countDistinct(col("w")).as("n_forms"))
      .orderBy(col("freq").desc, col("sub"))
      .limit(50)
  }

  /** Per-document unigram Shannon entropy (nats) — the standard "is this
    * text natural or degenerate" quality signal: near-zero for pathological
    * repetition, ln(n) for all-distinct tokens. H = ln(n) - (Σ c·ln c)/n
    * over per-doc token counts c, computed on the exact-integer path:
    * each ln is rounded once to 1e-8 (JVM vs libm differ by 1 ULP), the
    * per-term sum is BIGINT, and the only floating ops on the output are
    * two correctly-rounded divisions — bit-identical across engines.
    *
    * Scale shape: one (doc_id, token)-keyed partial-agg shuffle, then a
    * doc-keyed agg — the same two-stage histogram shape as token counting;
    * no token-global state at all, so it scales linearly. */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(floor(col("c").cast("double") * log(col("c").cast("double"))
          * lit(1e8) + lit(0.5)).cast(LongType)).as("t"))
      .select(col("doc_id"), col("n_tokens"),
        ((floor(log(col("n_tokens").cast("double")) * lit(1e8) + lit(0.5))
            .cast(LongType) * col("n_tokens") - col("t")).cast("double")
          / col("n_tokens").cast("double") / lit(1e8)).as("entropy"))
      .orderBy("doc_id")
  }

  /** Bigram novelty: the fraction of a document's DISTINCT bigrams that
    * occur in no other document — a data-mixing signal (high novelty =
    * unique content worth upweighting; low = templated/boilerplate). The
    * complement of decontamination: instead of matching against a held-out
    * set, every doc is scored against the rest of the corpus.
    *
    * Scale shape: the global doc-frequency table is one bigram-keyed
    * partial-agg shuffle (distinct grams per doc computed in-expression,
    * no pre-explosion dedup pass), then a bigram-keyed join back and a
    * doc-keyed agg. Same two-shuffle shape as the postings builder —
    * linear in corpus size, no all-pairs step. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    // gram identity never surfaces (df count + join-back only), so the
    // df aggregation and the join-back key on xxhash64 of the bigram —
    // 8-byte keys through both full-stream exchanges instead of the
    // bigram text (the Dedup.shingles key-width rule; the SQL oracle
    // stays on the strings, keeping the gate collision-sensitive)
    val grams = Tables(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(ws) - 1), " +
          "i -> xxhash64(concat(element_at(ws, i), ' ', element_at(ws, i + 1)))))"))
        .as("g"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(dfreq, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_bigrams").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** TF-IDF cosine near-duplicate pairs — the lexical-vector sibling of
    * the embedding/minhash dedup family: candidate pairs come from the
    * inverted index restricted to RARE terms (df·5 ≤ N — common words
    * generate quadratic candidate blowup and carry no discriminative
    * weight), then the FULL-vocabulary cosine is computed for candidates
    * only. That candidate/verify split is what survives 100 TB: the pair
    * space is bounded by rare-term co-occurrence, never all-pairs, and
    * the verify join fans out only candidate × per-doc-vocab rows.
    *
    * Exactness: idf rounds once to 1e-4 (ln is the only engine-variant
    * op); weights, norms and dots are then pure BIGINT (max |term| ~2e13,
    * sums < 2^52 — exact in the final doubles); the output cosine is
    * sqrt/mul/div on exact inputs, all correctly rounded IEEE ops. */
  def tfidfPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val totals = docs.agg(count(lit(1)).as("n"))
    // token identity never surfaces (tf/df counts, rare-key candidate
    // join, w-equality dot) — tokens ride as xxhash64 longs through all
    // four term-keyed exchanges (the Dedup.shingles key-width rule; the
    // SQL oracle computes over the strings)
    val tf = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w0"))
      .filter(col("w0") =!= "")
      .select(col("doc_id"), xxhash64(col("w0")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val wts = tf.join(dfreq, Seq("w")).crossJoin(broadcast(totals))
      .withColumn("we", col("tf") *
        floor(log(col("n").cast("double") / col("df").cast("double"))
          * lit(1e4) + lit(0.5)).cast(LongType))
      .select("doc_id", "w", "we")
    val rareToks = tf.join(
      dfreq.crossJoin(broadcast(totals)).filter(col("df") * 5 <= col("n"))
        .select("w"), Seq("w"))
      .select("doc_id", "w")
    val cand = rareToks.as("a").join(rareToks.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val norm = wts.groupBy("doc_id").agg(sum(col("we") * col("we")).as("n2"))
    val dot = cand
      .join(wts.as("wa"), col("wa.doc_id") === col("a_id"))
      .join(wts.as("wb"),
        col("wb.doc_id") === col("b_id") && col("wb.w") === col("wa.w"))
      .groupBy("a_id", "b_id").agg(sum(col("wa.we") * col("wb.we")).as("d"))
    dot
      .join(norm.select(col("doc_id").as("a_id"), col("n2").as("na")), Seq("a_id"))
      .join(norm.select(col("doc_id").as("b_id"), col("n2").as("nb")), Seq("b_id"))
      .withColumn("cosine", col("d").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= 0.8)
      .select("a_id", "b_id", "cosine")
      .orderBy("a_id", "b_id")
  }

  /** Deterministic linear quality classifier — the fasttext-shaped
    * "score every document with a trained linear model" stage, with the
    * trained weights replaced by a fixed pseudo-weight table so the
    * oracle can replay it: feature = hashed unigram bucket (the DSIR
    * hash, [[DsirBuckets]] buckets), weight(b) = (b·2654435761) % 2001
    * − 1000, document logit = Σ weight(bucket(token)). Pure integer
    * end to end (no ln, no division), so the gate is exact by
    * construction. The cost shape is the real one: the weight lookup is
    * an in-expression hash (a broadcast of a real weight table costs the
    * same plan), followed by one doc-keyed partial-agg shuffle. */
  def qualityLogit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .withColumn("b", bucketCol(col("w")))
      .withColumn("wt", (col("b") * lit(2654435761L)) % lit(2001L) - lit(1000L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).as("logit"))
      .withColumn("keep",
        when(col("logit") > 0L, "keep").otherwise("drop"))
      .orderBy("doc_id")

  // --- domain-frequent-segment (boilerplate) removal ------------------------
  /** Fixed segment width for boilerplate detection (words per segment)
    * and the per-domain doc-frequency threshold above which a segment is
    * template text. Both are interpolated into the oracle, so changing
    * them keeps the cross-engine gate honest. */
  val BoilerSegWords = 4
  val BoilerDf = 2

  /** CCNet/RefinedWeb-style boilerplate removal: a segment (fixed
    * [[BoilerSegWords]]-word span; the line analog for a corpus whose
    * docs are single-line) that appears in >= [[BoilerDf]] DISTINCT
    * documents of the SAME source is site template text — navigation,
    * footers, cookie banners — and every occurrence is dropped,
    * including the first (the df-threshold semantics that distinguish
    * this from q_dedup_span's first-wins chunk dedup). Emits the
    * reassembled clean text per surviving document, so the gate hashes
    * the actual cleaned corpus, not just counts.
    *
    * Scale shape: one corpus-wide shuffle keyed by (source, segment) to
    * count distinct-doc frequency; the frequent set is usually small
    * (template text is a vanishing fraction of distinct segments) BUT
    * #sources-proportional, so it goes through [[gatedBroadcast]] — the
    * count-gated broadcast with a shuffled-join fallback past the bound,
    * never a forced broadcast of a data-dependent set. Reassembly is one
    * hash aggregation by doc_id. Docs reduced to nothing (all segments
    * templated) drop from the clean corpus on both sides. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val segs = Tables(spark, dir, "documents")
      .withColumn("w", split(lower(col("text")), " "))
      .select(col("doc_id"), col("source"), explode(expr(
        s"transform(sequence(1, cast(ceil(size(w) / $BoilerSegWords.0) as int)), " +
          "i -> named_struct('si', cast(i as bigint), " +
          s"'seg', concat_ws(' ', slice(w, (i - 1) * $BoilerSegWords + 1, $BoilerSegWords))))")).as("c"))
      .select(col("doc_id"), col("source"), col("c.si"), col("c.seg"))
    val hot = segs.groupBy(col("source"), col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BoilerDf)
      .select(col("source"), col("seg"), lit(1L).as("boiler"))
    segs.join(gatedBroadcast(hot), Seq("source", "seg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("boiler").isNotNull, 1L).otherwise(0L)).as("n_boiler"),
        array_join(transform(
          array_sort(collect_list(when(col("boiler").isNull,
            struct(col("si"), col("seg"))))),
          c => c.getField("seg")), " ").as("clean_text"))
      .filter(col("n_seg") > col("n_boiler"))
      .orderBy("doc_id")
  }

  // --- markup stripping (HTML → text extraction) ----------------------------

  /** `(?s)` so a script body spanning lines still drops; non-greedy so
    * two script blocks on one document don't merge. Both inline-flag
    * syntax and semantics are identical in Java regex and RE2, so the
    * DuckDB oracle runs the same pattern. */
  private val ScriptRe = "(?s)<script[^>]*>.*?</script>"
  private val TagRe = "<[^>]+>"

  /** HTML → training-text extraction (the step CCNet/RefinedWeb run
    * before every quality filter): drop script blocks WITH their
    * contents, strip remaining tags to whitespace, collapse runs and
    * trim — tag-delimited text (including in-page boilerplate like ad
    * copy) survives as text, which is exactly why [[boilerplate]] exists
    * as the next pipeline stage. The synthetic corpus is plain text, so
    * the query PLANTS a deterministic page shell (nav/script/ad/footer,
    * mirrored exactly in the oracle) — the extraction pass is the
    * operator under test, per the q_pii_redact precedent. Pure per-row
    * codegen'd regex expressions, no shuffle at all until the gate's
    * ORDER BY: at 100 TB this is a map-only pass. */
  def markupStrip(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables(spark, dir, "documents").withColumn("html", concat(
      lit("<html><body><nav>Home | About | "), col("source"), lit("</nav>"),
      when(col("doc_id") % 3 === 0,
        concat(lit("<script type=\"text/javascript\">track("),
          col("doc_id").cast("string"), lit(");</script>"))).otherwise(lit("")),
      lit("<p>"), col("text"), lit("</p>"),
      when(col("doc_id") % 5 === 0,
        lit("<div class=\"ad\">BUY NOW!!!</div>")).otherwise(lit("")),
      lit("<footer>(c) 2026 "), col("source"), lit("</footer></body></html>")))
    planted
      .withColumn("noscript", regexp_replace(col("html"), ScriptRe, ""))
      .withColumn("n_tags", regexp_count(col("noscript"), lit(TagRe)).cast("long"))
      .withColumn("clean", trim(regexp_replace(
        regexp_replace(col("noscript"), TagRe, " "), " +", " ")))
      .select(col("doc_id"), col("n_tags"),
        length(col("clean")).cast("long").as("clean_len"),
        col("clean").as("clean_text"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_boilerplate" -> boilerplate,
    "q_markup_strip" -> markupStrip,
    "q_quality_logit" -> qualityLogit,
    "q_tfidf_pairs" -> tfidfPairs,
    "q_text_entropy" -> textEntropy,
    "q_ngram_novelty" -> ngramNovelty,
    "q_vocab_candidates" -> vocabCandidates,
    "q_lm_score" -> lmScore,
    "q_ccnet_buckets" -> ccnetBuckets,
    "q_dsir" -> dsir,
    "q_bm25" -> bm25,
    "q_keyword_terms" -> keywordTerms,
    "q_pii_redact" -> piiRedact,
    "q_text_repetition" -> textRepetition,
    "q_token_count" -> tokenCount,
    "q_text_quality" -> quality,
    "q_text_langid" -> langid,
    "q_langid_eval" -> langidEval,
    "q_text_charstats" -> charStats,
    "q_fingerprint" -> fingerprint,
    "q_fingerprint_winnow" -> fingerprintWinnow,
    "q_winnow_pairs" -> winnowPairs,
    "q_corpus_filter" -> corpusFilter)

  /** shared winnow CTE chain: per-doc DISTINCT selected fingerprints as
    * `sel(doc_id, wm)` — the DuckDB replica of [[winnow]] (HUGEINT
    * arithmetic with explicit mod-2^64 wrap, signed-domain comparison) */
  private val winnowSelCte: String =
    s"""pos AS (
       |  SELECT doc_id, u.i,
       |    list_reduce(
       |      list_prepend(CAST(0 AS HUGEINT),
       |        list_transform(range(u.i, u.i + $WinnowK),
       |          j -> CAST(unicode(substr(text, j, 1)) AS HUGEINT))),
       |      (h, c) -> (h * 1000003 + c) % 18446744073709551616) AS hu
       |  FROM documents, UNNEST(range(1, length(text) - $WinnowK + 2)) AS u(i)
       |), sgn AS (
       |  SELECT doc_id, i,
       |    CASE WHEN hu >= 9223372036854775808
       |         THEN CAST(hu - 18446744073709551616 AS BIGINT)
       |         ELSE CAST(hu AS BIGINT) END AS h,
       |    MAX(i) OVER (PARTITION BY doc_id) AS n
       |  FROM pos
       |), wmin AS (
       |  SELECT doc_id, i, n,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wm
       |  FROM sgn
       |), sel AS (
       |  SELECT DISTINCT doc_id, wm FROM wmin WHERE i <= n - ${WinnowW - 1}
       |)""".stripMargin

  private[ops] def sqlCountIn(markers: Seq[String]): String = {
    val pred = markers.map(m => s"w = '$m'").mkString(" OR ")
    s"len(list_filter(string_split(text, ' '), w -> $pred))"
  }

  private[ops] def sqlLangTag(code: String, markers: Seq[String]): String =
    s"lpad(CAST(${sqlCountIn(markers)} AS VARCHAR), 10, '0') || '$code'"

  val oracles: Map[String, String] = Map(
    "q_boilerplate" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, string_split(lower(text), ' ') AS w FROM documents),
         |segs AS (
         |  SELECT doc_id, source, CAST(u.i AS BIGINT) AS si,
         |    array_to_string(
         |      w[CAST((u.i - 1) * $BoilerSegWords + 1 AS INT):CAST(u.i * $BoilerSegWords AS INT)],
         |      ' ') AS seg
         |  FROM tok, UNNEST(range(1, CAST(ceil(len(w) / $BoilerSegWords.0) AS BIGINT) + 1)) AS u(i)),
         |hot AS (
         |  SELECT source, seg FROM segs
         |  GROUP BY source, seg HAVING COUNT(DISTINCT doc_id) >= $BoilerDf),
         |fl AS (
         |  SELECT s.doc_id, s.si, s.seg, (h.seg IS NOT NULL) AS boiler
         |  FROM segs s LEFT JOIN hot h ON s.source = h.source AND s.seg = h.seg)
         |SELECT doc_id, COUNT(*) AS n_seg,
         |  CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  string_agg(seg, ' ' ORDER BY si) FILTER (WHERE NOT boiler) AS clean_text
         |FROM fl GROUP BY doc_id
         |HAVING COUNT(*) > CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,
    "q_markup_strip" ->
      """WITH planted AS (
        |  SELECT doc_id, '<html><body><nav>Home | About | ' || source || '</nav>' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN '<script type="text/javascript">track(' ||
        |              CAST(doc_id AS VARCHAR) || ');</script>' ELSE '' END ||
        |    '<p>' || text || '</p>' ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN '<div class="ad">BUY NOW!!!</div>' ELSE '' END ||
        |    '<footer>(c) 2026 ' || source || '</footer></body></html>' AS html
        |  FROM documents),
        |ns AS (
        |  SELECT doc_id,
        |    regexp_replace(html, '(?s)<script[^>]*>.*?</script>', '', 'g') AS noscript
        |  FROM planted),
        |cl AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(noscript, '<[^>]+>')) AS n_tags,
        |    trim(regexp_replace(regexp_replace(noscript, '<[^>]+>', ' ', 'g'),
        |         ' +', ' ', 'g')) AS clean
        |  FROM ns)
        |SELECT doc_id, CAST(n_tags AS BIGINT) AS n_tags,
        |  CAST(length(clean) AS BIGINT) AS clean_len, clean AS clean_text
        |FROM cl ORDER BY doc_id""".stripMargin,
    "q_quality_logit" ->
      s"""WITH toks AS (
         |  SELECT doc_id, u.w
         |  FROM documents, UNNEST(string_split(lower(text), ' ')) u(w)
         |  WHERE u.w <> ''),
         |bt AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(string_split(w, ''),
         |          ch -> CAST(unicode(ch) AS BIGINT))),
         |      (h, c) -> (h * 31 + c) % 1048576) % $DsirBuckets AS b
         |  FROM toks),
         |sc AS (SELECT doc_id, (b * 2654435761) % 2001 - 1000 AS wt FROM bt)
         |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(wt) AS BIGINT) AS logit,
         |  CASE WHEN CAST(SUM(wt) AS BIGINT) > 0 THEN 'keep' ELSE 'drop' END
         |    AS keep
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_tfidf_pairs" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |tf AS (
        |  SELECT doc_id, u.w, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM documents, UNNEST(string_split(text, ' ')) u(w)
        |  WHERE u.w <> '' GROUP BY doc_id, u.w),
        |dfreq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |wts AS (
        |  SELECT t.doc_id, t.w,
        |    t.tf * CAST(floor(ln(CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE))
        |      * 10000.0 + 0.5) AS BIGINT) AS we
        |  FROM tf t JOIN dfreq d USING (w), n),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM tf a JOIN tf b ON a.w = b.w AND a.doc_id < b.doc_id
        |  JOIN dfreq d ON d.w = a.w, n
        |  WHERE d.df * 5 <= n.n),
        |norm AS (SELECT doc_id, CAST(SUM(we * we) AS BIGINT) AS n2
        |         FROM wts GROUP BY doc_id),
        |dot AS (
        |  SELECT c.a_id, c.b_id, CAST(SUM(a.we * b.we) AS BIGINT) AS d
        |  FROM cand c
        |  JOIN wts a ON a.doc_id = c.a_id
        |  JOIN wts b ON b.doc_id = c.b_id AND b.w = a.w
        |  GROUP BY c.a_id, c.b_id)
        |SELECT a_id, b_id, cos AS cosine FROM (
        |  SELECT dot.a_id, dot.b_id,
        |    CAST(dot.d AS DOUBLE)
        |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
        |  FROM dot
        |  JOIN norm na ON dot.a_id = na.doc_id
        |  JOIN norm nb ON dot.b_id = nb.doc_id)
        |WHERE cos >= 0.8 ORDER BY a_id, b_id""".stripMargin,
    "q_text_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id, u.w
        |  FROM documents, UNNEST(string_split(text, ' ')) u(w)
        |  WHERE u.w <> ''),
        |cnt AS (
        |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY doc_id, w),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
        |      * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS t
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  CAST(CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 100000000.0 + 0.5)
        |      AS BIGINT) * n_tokens - t AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE) / 100000000.0 AS entropy
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q_ngram_novelty" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |grams AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] AS g
        |  FROM docs, UNNEST(range(1, len(ws))) u(i)),
        |dfreq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY g)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM grams JOIN dfreq USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_vocab_candidates" ->
      """WITH bag AS (
        |  SELECT u.w, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents, UNNEST(string_split(text, ' ')) u(w)
        |  GROUP BY u.w),
        |subs AS (
        |  SELECT w, n, substr(w, CAST(i AS INT), CAST(l AS INT)) AS sub
        |  FROM bag,
        |       UNNEST(range(1, len(w) + 1)) u(i),
        |       UNNEST(range(2, 7)) v(l)
        |  WHERE i + l - 1 <= len(w))
        |SELECT sub, CAST(SUM(n) AS BIGINT) AS freq,
        |  CAST(COUNT(DISTINCT w) AS BIGINT) AS n_forms
        |FROM subs GROUP BY sub
        |ORDER BY freq DESC, sub LIMIT 50""".stripMargin,
    "q_lm_score" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |big AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM docs, UNNEST(range(1, len(toks))) u(i)),
        |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
        |       FROM big GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
        |v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
        |      FROM (SELECT unnest(toks) AS w FROM docs)),
        |lp AS (
        |  SELECT b.doc_id,
        |    CAST(floor(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))
        |      * 100000000.0 + 0.5) AS BIGINT) AS lps
        |  FROM big b
        |  JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |  JOIN c1 ON b.w1 = c1.w1, v)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(lps) AS DOUBLE) / 100000000.0 / CAST(COUNT(*) AS DOUBLE)
        |    AS avg_lp
        |FROM lp GROUP BY doc_id ORDER BY avg_lp ASC, doc_id LIMIT 20""".stripMargin,
    "q_ccnet_buckets" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |big AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM docs, UNNEST(range(1, len(toks))) u(i)),
        |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
        |       FROM big GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
        |v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
        |      FROM (SELECT unnest(toks) AS w FROM docs)),
        |lp AS (
        |  SELECT b.doc_id,
        |    CAST(floor(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))
        |      * 100000000.0 + 0.5) AS BIGINT) AS lps
        |  FROM big b
        |  JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |  JOIN c1 ON b.w1 = c1.w1, v),
        |tot AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(lps) AS BIGINT) AS s
        |  FROM lp GROUP BY doc_id),
        |ranked AS (
        |  SELECT t.doc_id, d.lang,
        |    ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY CAST(t.s AS DOUBLE) / CAST(t.n_bigrams AS DOUBLE) ASC,
        |        t.doc_id ASC) AS t3
        |  FROM tot t JOIN documents d ON t.doc_id = d.doc_id)
        |SELECT doc_id, lang,
        |  CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS ppl_bucket
        |FROM ranked ORDER BY doc_id""".stripMargin,
    "q_dsir" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, u.w
         |  FROM documents, UNNEST(string_split(lower(text), ' ')) u(w)
         |  WHERE u.w <> ''
         |), bt AS (
         |  SELECT doc_id, lang,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(string_split(w, ''),
         |          ch -> CAST(unicode(ch) AS BIGINT))),
         |      (h, c) -> (h * 31 + c) % 1048576) % $DsirBuckets AS b
         |  FROM toks
         |), raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bt GROUP BY b),
         |tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM bt
         |        WHERE lang = 'en' GROUP BY b),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr,
         |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt
         |  FROM bt),
         |lr AS (
         |  SELECT raw.b,
         |    CAST(floor((ln(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
         |          / CAST(tot.nt + $DsirBuckets AS DOUBLE))
         |        - ln(CAST(raw.cr + 1 AS DOUBLE)
         |          / CAST(tot.nr + $DsirBuckets AS DOUBLE)))
         |      * 100000000.0 + 0.5) AS BIGINT) AS lr
         |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot)
         |SELECT bt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
         |  CAST(SUM(lr.lr) AS BIGINT) AS dsir_scaled
         |FROM bt JOIN lr ON bt.b = lr.b
         |GROUP BY bt.doc_id
         |ORDER BY dsir_scaled DESC, doc_id LIMIT 50""".stripMargin,
    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, u.w FROM documents, UNNEST(string_split(text, ' ')) u(w)),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
        |tf AS (
        |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        |  WHERE w IN ('hash', 'join', 'vector') GROUP BY doc_id, w),
        |dfq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |contrib AS (
        |  SELECT tf.doc_id, tf.w,
        |    ln((CAST(s.n_docs - dfq.df AS DOUBLE) + 0.5)
        |       / (CAST(dfq.df AS DOUBLE) + 0.5) + 1.0)
        |    * (CAST(tf.tf AS DOUBLE) * 2.2)
        |    / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
        |        (CAST(dl.dl AS DOUBLE)
        |         / (CAST(s.total_len AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
        |      AS c
        |  FROM tf JOIN dl USING (doc_id) JOIN dfq ON tf.w = dfq.w, stats s),
        |sc AS (
        |  SELECT doc_id,
        |    COALESCE(MAX(CASE WHEN w = 'hash' THEN c END), 0.0)
        |    + COALESCE(MAX(CASE WHEN w = 'join' THEN c END), 0.0)
        |    + COALESCE(MAX(CASE WHEN w = 'vector' THEN c END), 0.0) AS s0
        |  FROM contrib GROUP BY doc_id)
        |SELECT doc_id,
        |  floor(s0 * 1000000.0 + 0.5) / 1000000.0 AS score
        |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q_keyword_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, u.w FROM documents, UNNEST(string_split(text, ' ')) u(w)),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
        |dfreq AS (
        |  SELECT w, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, w FROM toks) GROUP BY w),
        |scored AS (
        |  SELECT doc_id, w, tf, df, CAST(tf AS DOUBLE) / df AS salience
        |  FROM tf JOIN dfreq USING (w)),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY salience DESC, w ASC) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, w, tf, df, salience
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_pii_redact" ->
      """WITH planted AS (
        |  SELECT lang, text ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |         THEN ' call 555-123-4567 or 555-987-6543' ELSE '' END AS txt
        |  FROM documents),
        |red AS (
        |  SELECT lang, txt,
        |    len(regexp_extract_all(txt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(txt, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone,
        |    regexp_replace(regexp_replace(txt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS clean
        |  FROM planted)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_email) AS BIGINT) AS emails,
        |       CAST(SUM(n_phone) AS BIGINT) AS phones,
        |       CAST(SUM(length(txt) - length(clean)) AS BIGINT) AS chars_removed,
        |       MIN(md5(clean)) AS md5_min, MAX(md5(clean)) AS md5_max
        |FROM red GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), words AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i, ws[CAST(u.i AS INT)] AS wd
        |  FROM w, UNNEST(range(1, len(ws) + 1)) u(i)
        |), bg AS (
        |  SELECT a.doc_id, a.wd || ' ' || b.wd AS g
        |  FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |), bgc AS (
        |  SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g
        |), bga AS (
        |  SELECT doc_id,
        |    CAST(MAX(c) AS DOUBLE) / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
        |      AS top_bigram_frac
        |  FROM bgc GROUP BY doc_id
        |), dup AS (
        |  SELECT doc_id, COUNT(*) AS n_words,
        |    1.0 - CAST(COUNT(DISTINCT wd) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |      AS dup_word_frac
        |  FROM words GROUP BY doc_id
        |), runc AS (
        |  SELECT doc_id, MAX(c) AS max_run FROM (
        |    SELECT doc_id, wd, grp, COUNT(*) AS c FROM (
        |      SELECT doc_id, wd,
        |        i - ROW_NUMBER() OVER (PARTITION BY doc_id, wd ORDER BY i) AS grp
        |      FROM words) r
        |    GROUP BY doc_id, wd, grp) rc
        |  GROUP BY doc_id
        |)
        |SELECT dup.doc_id, n_words, dup_word_frac,
        |  COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac,
        |  COALESCE(max_run, 1) AS max_run
        |FROM dup
        | LEFT JOIN bga ON dup.doc_id = bga.doc_id
        | LEFT JOIN runc ON dup.doc_id = runc.doc_id
        |ORDER BY dup.doc_id""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
         | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_subtokens,
         | CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""SELECT doc_id, n_chars, n_words, n_stopwords, n_punct,
         | CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS mean_word_len,
         | CAST(n_stopwords AS DOUBLE) / n_words AS stopword_ratio
         |FROM (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(${sqlCountIn(Seq("the", "a", "and", "of", "to", "in", "is"))} AS BIGINT) AS n_stopwords,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin,
    "q_langid_eval" ->
      s"""WITH p AS (
         |  SELECT lang, substr(greatest(
         |    ${sqlLangTag("de", Seq("der", "die", "und", "nicht"))},
         |    ${sqlLangTag("en", Seq("the", "a", "and", "is"))},
         |    ${sqlLangTag("es", Seq("el", "los", "y", "que"))},
         |    ${sqlLangTag("fr", Seq("le", "la", "et", "les"))},
         |    ${sqlLangTag("zh", Seq("的", "是"))}), 11, 2) AS pred_lang
         |  FROM documents)
         |SELECT lang, pred_lang, COUNT(*) AS n
         |FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,
    "q_text_langid" ->
      s"""SELECT doc_id, substr(greatest(
         | ${sqlLangTag("de", Seq("der", "die", "und", "nicht"))},
         | ${sqlLangTag("en", Seq("the", "a", "and", "is"))},
         | ${sqlLangTag("es", Seq("el", "los", "y", "que"))},
         | ${sqlLangTag("fr", Seq("le", "la", "et", "les"))},
         | ${sqlLangTag("zh", Seq("的", "是"))}), 11, 2) AS pred_lang
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(lower(text)) AS fp FROM documents ORDER BY doc_id""",
    "q_text_charstats" ->
      """WITH ch AS (
        |  SELECT doc_id, unicode(substr(text, u.i, 1)) AS c
        |  FROM documents, UNNEST(range(1, length(text) + 1)) AS u(i)
        |), f AS (
        |  SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY doc_id, c
        |), n AS (
        |  SELECT doc_id, greatest(length(text), 1) AS n FROM documents
        |), p AS (
        |  SELECT f.doc_id,
        |    list_sum(list(
        |      (CAST(cnt AS DOUBLE) / n.n) * (CAST(cnt AS DOUBLE) / n.n)
        |      ORDER BY c)) AS sum_p2
        |  FROM f JOIN n ON f.doc_id = n.doc_id GROUP BY f.doc_id
        |), dr AS (
        |  SELECT d.doc_id,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |      / greatest(length(text), 1) AS digit_ratio,
        |    CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
        |      / greatest(length(text), 1) AS upper_ratio
        |  FROM documents d
        |)
        |SELECT d.doc_id, 1.0 - COALESCE(p.sum_p2, 0.0) AS gini,
        |  dr.digit_ratio, dr.upper_ratio
        |FROM documents d
        | LEFT JOIN p ON d.doc_id = p.doc_id
        | JOIN dr ON d.doc_id = dr.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_fingerprint_winnow" ->
      s"""WITH $winnowSelCte, agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp, MIN(wm) AS min_fp
         |  FROM sel GROUP BY doc_id
         |)
         |SELECT d.doc_id, COALESCE(a.n_fp, CAST(0 AS BIGINT)) AS n_fp,
         |  COALESCE(a.min_fp, CAST(0 AS BIGINT)) AS min_fp
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q_winnow_pairs" ->
      s"""WITH $winnowSelCte, rare AS (
         |  SELECT wm FROM sel GROUP BY wm HAVING COUNT(*) <= $WinnowDfCap
         |), s2 AS (
         |  SELECT s.doc_id, s.wm FROM sel s JOIN rare r ON s.wm = r.wm
         |)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS shared
         |FROM s2 a JOIN s2 b ON a.wm = b.wm AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowPairMin
         |ORDER BY a_id, b_id""".stripMargin,
    "q_corpus_filter" ->
      s"""WITH canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(${sqlCountIn(Seq("the", "a", "and", "of", "to", "in", "is"))} AS DOUBLE)
         |      / len(string_split(text, ' ')) AS swr,
         |    substr(greatest(
         |      ${sqlLangTag("de", Seq("der", "die", "und", "nicht"))},
         |      ${sqlLangTag("en", Seq("the", "a", "and", "is"))},
         |      ${sqlLangTag("es", Seq("el", "los", "y", "que"))},
         |      ${sqlLangTag("fr", Seq("le", "la", "et", "les"))},
         |      ${sqlLangTag("zh", Seq("的", "是"))}), 11, 2) AS pred_lang
         |  FROM documents)
         |SELECT s.doc_id, s.n_words, s.pred_lang
         |FROM scored s JOIN canon c ON s.doc_id = c.doc_id
         |WHERE s.pred_lang = 'en' AND s.n_words >= 15 AND s.swr >= 0.03
         |ORDER BY s.doc_id""".stripMargin)
}
