package graft

import org.apache.spark.sql.functions._

import graft.ops._

/** Sanity specs for the analytics + LLM-pipeline operator surface.
  * Exact value parity with the DuckDB oracle is checked by the driver's
  * correctness gate (and scripts/selfcheck.py); these specs pin structural
  * properties and the non-oracled approximate operators.
  */
class OpsSpec extends SparkSpec {

  test("every registered query runs and every oracled query is registered") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
  }

  test("every registry output schema is atomic-typed (driver-comparator compatible)") {
    // The driver's pandas comparator factorizes object columns for its
    // canonical sort; array/map/struct outputs crash it (round-3 q_postings).
    // Build every query at sf0.001 and reject any non-atomic output column —
    // local green must predict driver green.
    import org.apache.spark.sql.types.{ArrayType, MapType, NullType, StructType}
    def complex(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: ArrayType | _: MapType | _: StructType | NullType => true
      case _ => false
    }
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val fields = q(spark, sf).schema.fields
      val complexCols = fields.collect {
        case f if complex(f.dataType) => s"$name.${f.name}: ${f.dataType.simpleString}"
      }
      // duplicate names break the comparator's sort-columns-by-name canon
      val dups = fields.groupBy(_.name).collect {
        case (n, fs) if fs.length > 1 => s"$name.$n (x${fs.length})"
      }
      complexCols ++ dups
    }
    assert(bad.isEmpty, s"non-atomic output columns (ungateable): ${bad.mkString(", ")}")
  }

  test("q01 groups by returnflag/linestatus with positive sums") {
    val rows = Analytics.q01(spark, sf).collect()
    assert(rows.length >= 2)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
    }
  }

  test("stratified sample: per-language rates land near target, weights invert rates") {
    val s = Sampling.sampleStratified(spark, sf01).collect()
    val docs = graft.Tables(spark, sf01, "documents")
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // md5 gate is uniform: expect rate +- generous binomial slack
    val enFrac = kept("en").toDouble / byLang("en")
    assert(enFrac > 0.03 && enFrac < 0.25, s"en kept $enFrac, want ~0.1")
    val deFrac = kept("de").toDouble / byLang("de")
    assert(deFrac > 0.3 && deFrac < 0.7, s"de kept $deFrac, want ~0.5")
    assert(s.forall(r =>
      r.getDouble(2) == (if (r.getString(1) == "en") 1.0 / 0.1 else 1.0 / 0.5)))
    // deterministic: the sample is a pure function of doc_id
    assert(Sampling.sampleStratified(spark, sf01).collect().map(_.getLong(0))
      .sameElements(s.map(_.getLong(0))))
  }

  test("budget select: bucketed plan equals brute-force greedy selection") {
    // the operator's bucket-histogram decomposition must reproduce the
    // NAIVE semantics exactly: sort all docs (score desc, doc_id), take
    // while the running token total of strictly-better docs < budget
    val docs = graft.Tables(spark, sf01, "documents")
      .selectExpr("doc_id",
        "size(filter(split(text, ' '), w -> w = 'the' OR w = 'a' OR " +
          "w = 'and' OR w = 'of' OR w = 'to' OR w = 'in' OR w = 'is')) " +
          "* 1000000L div size(split(text, ' ')) AS score",
        "cast(size(split(text, ' ')) as long) AS n_words")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val budget = docs.map(_._3).sum / 2
    val ranked = docs.sortBy { case (id, s, _) => (-s, id) }
    val before = ranked.scanLeft(0L)(_ + _._3) // tokens strictly before i
    val expected = ranked.zip(before).collect {
      case ((id, _, _), b) if b < budget => id
    }.sorted.toSeq
    val got = Sampling.budgetSelect(spark, sf01).collect().map(_.getLong(0)).toSeq
    assert(got == expected,
      s"selection diverged: got ${got.size} docs, expected ${expected.size}")
    // the budget binds: a strict subset whose tokens cover >= budget
    val selTokens = docs.filter(d => expected.contains(d._1)).map(_._3).sum
    assert(got.size < docs.length && selTokens >= budget)
  }

  test("pack chunks: per-source chunk ids are contiguous and span counts consistent") {
    val rows = Sampling.packChunks(spark, sf01).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val ordered = docs.sortBy(_._2)
      var cum = 0L
      ordered.foreach { case (_, _, nTok, chunkId, nChunks) =>
        assert(chunkId == cum / Sampling.ChunkTokens, "first chunk = floor(start/C)")
        val lastChunk = (cum + nTok - 1) / Sampling.ChunkTokens
        assert(nChunks == lastChunk - chunkId + 1, "span covers the doc's tokens")
        cum += nTok
      }
    }
  }

  test("text repetition metrics stay in range") {
    val rows = TextOps.textRepetition(spark, sf01).collect()
    assert(rows.length == graft.Tables(spark, sf01, "documents").count())
    rows.foreach { r =>
      val (dup, top, run) = (r.getDouble(2), r.getDouble(3), r.getLong(4))
      assert(dup >= 0.0 && dup < 1.0)
      assert(top >= 0.0 && top <= 1.0)
      assert(run >= 1L && run <= r.getLong(1))
    }
    // the corpus is word-soup: repeated words must actually occur
    assert(rows.exists(_.getLong(4) >= 2), "expected at least one run >= 2")
  }

  test("salted join equals the plain join and actually shuffles on (key, salt)") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val stats = graft.Tables(spark, sf, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("lang_docs"))
    val plain = docs.join(stats, "lang")
      .select("doc_id", "lang", "lang_docs").orderBy("doc_id").collect()
    val salted = SkewJoin.saltedJoin(docs, stats.hint("merge"), "lang", 8, col("doc_id"))
      .select("doc_id", "lang", "lang_docs").orderBy("doc_id").collect()
    assert(salted.sameElements(plain))
    // and the salted plan keeps the join on the shuffle path with the salt key
    val plan = SkewJoin.saltedJoin(docs, stats.hint("merge"), "lang", 8, col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), "salt column must reach the join keys")
    assert(!plan.contains("BroadcastHashJoin"), "demo must exercise the shuffle join")
  }

  test("semantic dedup: dropped set is sound and recalls the brute-force dups") {
    val emb = graft.Tables(spark, sf01, "embeddings")
    val survivors = Similarity.dedupSemantic(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val dropped = all -- survivors
    val bruteDropped = Similarity.cosinePairs(emb, 0.45).collect()
      .map(_.getLong(1)).toSet
    // soundness: every drop is a verified near-duplicate of a lower id
    assert(dropped.subsetOf(bruteDropped),
      s"unsound drops: ${dropped -- bruteDropped}")
    // recall: near-duplicates usually share a centroid bucket
    assert(dropped.nonEmpty && dropped.size * 10 >= bruteDropped.size * 6,
      s"recall ${dropped.size}/${bruteDropped.size}")
  }

  test("deep analytics: every query is non-vacuous at sf0.01") {
    // exact value parity is the oracle gate's job; this guards the
    // vacuous-result trap (a predicate that silently matches nothing)
    AnalyticsDeep.queries.foreach { case (k, fn) =>
      assert(fn(spark, sf01).count() > 0, s"$k returned zero rows")
    }
  }

  test("q13 count-distribution buckets partition the customer table") {
    val dist = AnalyticsDeep.q13(spark, sf)
    val total = dist.agg(sum(col("custdist"))).collect()(0).getLong(0)
    assert(total == graft.Tables(spark, sf, "customer").count())
  }

  test("q21 sole-late suppliers: every reported order group excludes multi-late orders") {
    val rows = AnalyticsDeep.q21(spark, sf).collect()
    assert(rows.nonEmpty)
    // numwait must be positive and the ordering deterministic
    assert(rows.forall(_.getAs[Long]("numwait") > 0))
    val sorted = rows.map(r => (-r.getAs[Long]("numwait"), r.getAs[String]("s_name")))
    assert(sorted.sameElements(sorted.sorted))
  }

  test("q22 returns empty (not NPE) when no customer has a positive balance") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q22").toString
    Seq((1L, "c1", 1, -5.0, "SEG"), (2L, "c2", 2, 0.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L, "O", 10.0,
        java.sql.Timestamp.valueOf("2001-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    // SUM over zero qualifying rows is NULL -> NULL threshold -> empty result
    assert(Analytics.q22(spark, dir).count() == 0)
  }

  test("q03 returns at most 10 rows ordered by revenue desc") {
    val rows = Analytics.q03(spark, sf).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("sessionize: session bounds ordered, counts positive") {
    val rows = Analytics.sessionize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("session_start_us") <= r.getAs[Long]("session_end_us"))
      assert(r.getAs[Long]("n_events") > 0)
    }
  }

  test("salted asof join equals the plain composition") {
    val events = Tables(spark, sf, "events").select("event_id", "user_id", "ts")
    val orders = Tables(spark, sf, "orders")
    def run(fn: => org.apache.spark.sql.DataFrame) =
      fn.select("event_id", "last_order_date").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.toString)).toMap
    val plain = run(AsOfJoin.asOf(events, col("user_id"), col("ts"),
      orders, col("o_custkey"), col("o_orderdate"), col("o_orderdate"), "last_order_date"))
    val salted = run(AsOfJoin.asOfSalted(events, col("user_id"), col("ts"),
      orders, col("o_custkey"), col("o_orderdate"), col("o_orderdate"), "last_order_date",
      bucketUs = 30L * 86400000000L))
    assert(plain == salted)
  }

  test("native asof: int keys are cast up, non-castable keys fail analysis") {
    import spark.implicits._
    val l = Seq((1, 10L), (2, 25L)).toDF("k", "t")   // INT key
    val r = Seq((1, 5L, "a"), (1, 20L, "b")).toDF("k", "t", "v")
    // int-typed key/long time works: cast inserted at build time, no
    // ClassCastException inside the exec
    val got = graft.plans.AsOfJoinNative.asOf(
        l, col("k"), col("t"), r, col("k"), col("t"), col("v"), "v")
      .orderBy("k").collect().map(r => (r.getInt(0), r.getString(2)))
    assert(got.toSeq == Seq((1, "a"), (2, null)))
    // a string key is an analysis-time error naming the column, not a
    // runtime crash deep in the two-pointer merge
    val ls = Seq(("x", 10L)).toDF("k", "t")
    val e = intercept[IllegalArgumentException] {
      graft.plans.AsOfJoinNative.asOf(
        ls, col("k"), col("t"), r, col("k"), col("t"), col("v"), "v")
    }
    assert(e.getMessage.contains("left key"), e.getMessage)
  }

  test("interop table carries all three delete shapes; scan applies them") {
    // value parity with the INDEPENDENT DuckDB reader (which resolves
    // metadata/manifests/deletes itself) is the driver gate + selfcheck;
    // this spec pins the table shape that makes that proof meaningful
    val scanned = Interop.buildAndScan(spark, sf)
    val t = graft.table.GraftTable.load(spark, Interop.Loc)
    val live = t.liveFiles()
    assert(live.exists(_.fileType == "posdel"), "position delete live")
    assert(live.count(_.fileType == "dv") == 1,
      "exactly one live DV entry (the second delete supersedes the first)")
    assert(live.exists(_.fileType == "eqdel"), "equality delete live")
    val rows = scanned.collect().map(r => (r.getLong(0), r.getString(1)))
    // batch A (id%4<2) lost id%13 in {3,7,11} and all 'F' rows; batch B
    // (id%4=2, appended after the eqdel) keeps both
    assert(rows.forall { case (id, st) =>
      id % 4 == 2 || (id % 13 != 3 && id % 13 != 7 && id % 13 != 11 && st != "F")
    })
    assert(rows.exists { case (id, _) => id % 4 == 2 && id % 13 == 3 },
      "post-delete append unaffected by earlier position delete")
    assert(rows.exists { case (id, st) => id % 4 == 2 && st == "F" },
      "post-eqdel append unaffected by the sequence-gated equality delete")
    // evolved variant: two schema generations + hidden partitioning live
    // in one table, defaults fill only the old generation
    val ev = Interop.buildEvolvedAndScan(spark, sf)
    val t2 = graft.table.GraftTable.load(spark, Interop.Loc2)
    val gens = t2.liveFiles().filter(_.fileType == "data").map(_.schemaId).toSet
    assert(gens == Set(0, 3), s"expected file generations {0,3}, got $gens")
    assert(t2.liveFiles().exists(_.partition.nonEmpty), "hidden partition tuples")
    val evRows = ev.collect()
    assert(evRows.forall(r => r.getLong(0) % 11 != 5), "MoR delete applied")
    // old generation (even ids) presents the v3 default; new has real scores
    assert(evRows.filter(_.getLong(0) % 2 == 0).forall(_.getDouble(3) == 1.5))
    assert(evRows.exists(r => r.getLong(0) % 2 == 1 && r.getDouble(3) != 1.5))
  }

  test("third reader (pyarrow): history and branch refs resolve equal to the native scan") {
    // the registry keys (q_interop_pyread/_evolved) gate the head-read and
    // evolution shapes against the DuckDB resolver; this pins the two read
    // paths that have no registry key — an explicit --snapshot pin and a
    // non-main --ref — against the NATIVE reader on the same tables
    val nativeTT = Interop.buildAndScanHistory(spark, sf).collect().toSeq
    val pyTT = spark.read.parquet(
        Interop.runExtReader(Interop.Loc3, Seq("--snapshot", "4")))
      .orderBy("id").collect().toSeq
    assert(pyTT == nativeTT,
      s"time-travel mismatch: py=${pyTT.size} native=${nativeTT.size}")
    val nativeBr = Interop.buildBranchAndScan(spark, sf).collect().toSeq
    val pyBr = spark.read.parquet(
        Interop.runExtReader(Interop.Loc4, Seq("--ref", "audit")))
      .orderBy("id").collect().toSeq
    assert(pyBr == nativeBr,
      s"branch mismatch: py=${pyBr.size} native=${nativeBr.size}")
  }

  test("third reader (pyarrow): name-mapped add_files entries read by logical name") {
    // imported files carry LOGICAL column names and absolute paths —
    // the one read-group shape the registry keys don't cover; a MoR
    // delete on top proves overlay targeting works for external paths
    val src = Tables(spark, sf, "supplier")
    val loc = java.nio.file.Files.createTempDirectory("graft-pyread-af").toString
    val t = graft.table.GraftTable.create(spark, loc, src.schema.toDDL)
    t.addFiles(s"$sf/supplier.parquet")
    t.delete("s_suppkey % 10 = 0", graft.table.WriteMode.MergeOnRead)
    val nat = t.scan().orderBy("s_suppkey").collect().toSeq
    val py = spark.read.parquet(Interop.runExtReader(loc))
      .orderBy("s_suppkey").collect().toSeq
    assert(py == nat, s"name-mapped mismatch: py=${py.size} native=${nat.size}")
  }

  test("asof join: every matched order date <= event ts") {
    val df = AsOfJoin.eventsAsOfOrders(spark, sf)
    val bad = df.join(Tables(spark, sf, "events").select("event_id", "ts"), "event_id")
      .filter(col("last_order_date") > col("ts")).count()
    assert(bad == 0)
  }

  test("ccnet buckets: per-language thirds, head scores no worse than tail") {
    val rows = TextOps.ccnetBuckets(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val perLang = rows.groupBy(_._2)
    perLang.foreach { case (lang, docs) =>
      val byB = docs.groupBy(_._3).view.mapValues(_.length).toMap
      // ntile thirds differ by at most 1 doc
      assert(byB.values.max - byB.values.min <= 1, s"$lang skewed: $byB")
    }
    val all = rows.map(_._1).toSet
    assert(all.size == rows.length, "one bucket per doc")
    // deterministic across re-runs (float only in the tie-broken ORDER BY)
    val again = TextOps.ccnetBuckets(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.sameElements(again))
  }

  test("cluster topics: K clusters x top-3 terms, corpus-wide words score zero") {
    val rows = Clustering.clusterTopics(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(rows.length == Clustering.K * Clustering.TopTerms)
    rows.groupBy(_._1).foreach { case (_, ts) =>
      assert(ts.map(_._2).sorted.sameElements(1L to Clustering.TopTerms),
        "contiguous ranks per cluster")
      // ranked by score: rk order is non-increasing in score
      val byRk = ts.sortBy(_._2).map(_._4)
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b })
    }
    // idf(ln K/K)=0: a term in every cluster cannot outrank specific vocab
    assert(rows.forall(_._4 >= 0), "scores are non-negative by construction")
  }

  test("dsir: importance weights concentrate the target language at the top") {
    val docs = Tables(spark, sf01, "documents")
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val baseEn = langOf.values.count(_ == "en").toDouble / langOf.size
    val top = TextOps.dsir(spark, sf01).collect().map(_.getLong(0))
    val topEn = top.count(id => langOf(id) == "en").toDouble / top.length
    // the synthetic corpus shares ONE vocabulary across languages (they
    // differ only in word-frequency mix), so unigram importance weights
    // can only modestly enrich — assert direction, not magnitude
    assert(topEn > baseEn + 0.02,
      f"top-50 en fraction $topEn%.2f vs corpus $baseEn%.2f — no enrichment")
  }

  test("minhash candidates contain all true jaccard>=0.9 pairs (planted dups)") {
    val docs = Tables(spark, sf01, "documents")
    val truth = Dedup.jaccardPairs(docs, 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "expected planted near-duplicates at sf0.01")
    val cand = Dedup.minhashCandidates(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(cand), s"missing: ${truth.diff(cand)}")
  }

  test("jaccard df cap bounds hot-shingle candidate fan-out") {
    import spark.implicits._
    // 40 docs share one boilerplate sentence — its shingles have df=40,
    // the classic skew bomb (uncapped: 40·39/2 candidate pairs from the
    // boilerplate alone). One planted near-dup pair shares rare shingles.
    val docs = ((0L until 40L).map(i =>
        (i, s"all rights reserved by the site u$i v$i w$i")) ++ Seq(
        (100L, "quick brown fox jumps over the lazy dog tonight"),
        (101L, "quick brown fox jumps over the lazy dog today")))
      .toDF("doc_id", "text")
    // uncapped baseline (cap ≥ 40 disables the filter): the hot shingles
    // alone emit all 780 boilerplate pairs
    assert(Dedup.jaccardCandidates(docs, 40).count() == 781)
    // capped: boilerplate shingles (df=40 > 5) generate NOTHING; the
    // planted pair still surfaces via its df=2 shingles
    val cand = Dedup.jaccardCandidates(docs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand == Set((100L, 101L)), s"capped candidates: $cand")
    // and verification is still exact over the FULL shingle sets: the
    // planted pair scores J=6/8=0.75 and survives tau=0.6
    val pairs = Dedup.jaccardPairs(docs, 0.6, maxDf = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L)), s"verified pairs: $pairs")
  }

  test("jaccard hot-shingle correction counts >cap intersections exactly") {
    import spark.implicits._
    // Round-6 judge finding: interHot (Dedup.scala hot-correction join)
    // was provably EMPTY on every input ever tested — testdata max df 25
    // vs cap 256 — so a miscounted hot term would go unseen until a
    // natural boilerplate-heavy corpus. Plant a candidate pair sharing
    // rare AND hot shingles, with a tau that STRADDLES the hot term:
    // docs 100/101 (15 tokens, 13 shingles each) share 12 shingles —
    // 4 hot (the boilerplate head, df = 42 > cap 5) + 8 rare (df = 2).
    //   exact J          = 12 / (13 + 13 - 12) = 0.857
    //   hot term dropped  =  8 / (13 + 13 -  8) = 0.444  → misses tau 0.7
    //   hot term doubled  = 16 / (13 + 13 - 16) = 1.6    → passes tau 0.9
    // so presence at 0.7 fails if interHot under-counts (or the
    // left-join/coalesce loses it), absence at 0.9 fails if it
    // over-counts.
    val docs = ((0L until 40L).map(i =>
        (i, s"all rights reserved by the site u$i v$i w$i")) ++ Seq(
        (100L, "all rights reserved by the site quick brown fox jumps over the lazy dog tonight"),
        (101L, "all rights reserved by the site quick brown fox jumps over the lazy dog today")))
      .toDF("doc_id", "text")
    def pairs(tau: Double) = Dedup.jaccardPairs(docs, tau, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(0.7) == Set((100L, 101L)),
      s"hot intersection must count toward J (expected J=12/14): ${pairs(0.7)}")
    assert(pairs(0.9) == Set.empty,
      s"J=0.857 must not pass tau=0.9 — hot term over-counted: ${pairs(0.9)}")
  }

  test("dedup eval: truth counts hot-shingle intersections exactly (planted straddle)") {
    import spark.implicits._
    // The eval's uncapped truth splits shared-rare (bounded unfold) from
    // shared-hot (hot-only self-join); testdata has NO hot shingle at the
    // production cap (max df 25 << 256), so without a plant the hot leg
    // is vacuously unexercised — the round-6 finding class. 260 docs
    // share a boilerplate head (4 shingles at df 262 > 256 = HOT); the
    // planted pair shares those 4 hot + 8 rare shingles, J = 12/14.
    //  - hot leg DROPPED   → J = 8/18  = 0.44 < 0.6 → pair missing (fn=1)
    //  - hot leg DOUBLED   → boilerplate pairs J = 8/6 ≥ 0.6 → truth
    //    explodes to 33k pairs (fn huge) — both directions fail tp/fp/fn
    val tmp = java.nio.file.Files.createTempDirectory("graft-evalhot").toString
    val boiler = (0L until 260L).map(i =>
      (i, s"all rights reserved by the site u$i v$i w$i", "src0"))
    val planted = Seq(
      (1000L, "all rights reserved by the site quick brown fox jumps over the lazy dog tonight", "src0"),
      (1001L, "all rights reserved by the site quick brown fox jumps over the lazy dog today", "src0"))
    (boiler ++ planted).toDF("doc_id", "text", "source")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = Dedup.dedupEval(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows("jaccard_capped") == ((1L, 0L, 0L)),
      s"expected (tp,fp,fn)=(1,0,0) for the straddle pair, got ${rows("jaccard_capped")}")
  }

  test("simhash detects planted near-dup pairs") {
    val docs = Tables(spark, sf01, "documents")
    val truth = Dedup.jaccardPairs(docs, 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhash(spark, sf01).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(sim).size.toDouble / truth.size
    assert(recall >= 0.9, s"simhash recall $recall")
  }

  test("winnow pairs surface planted near-duplicate documents") {
    val docs = Tables(spark, sf01, "documents")
    val truth = Dedup.jaccardPairs(docs, 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val pairs = TextOps.winnowPairs(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(pairs).size.toDouble / truth.size
    assert(recall >= 0.9, s"winnow-pair recall $recall on planted dups")
  }

  test("int8 ANN ranks close to the full-precision top-k") {
    val exact = Similarity.annTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val q = Similarity.annInt8(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(q).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 quantization recall $recall vs full precision")
  }

  test("ann ivf achieves reasonable recall vs brute force") {
    val exact = Similarity.annTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.annIvf(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivf recall $recall below target for auto-scaled lists")
  }

  test("bitext mining: margin criterion selects distinctive pairs and rejects hubs") {
    val mined = Similarity.bitextMine(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(mined.nonEmpty, "corpus must yield mined pairs")
    // one pair per source, margins at/above the acceptance threshold
    assert(mined.map(_._1).distinct.length == mined.length)
    assert(mined.forall(_._3 >= Similarity.BitextMarginPpm))
    assert(mined.forall { case (s, t, _) => s % 2 == 0 && t % 2 == 1 })
    // the criterion must actually REJECT: some sources with candidates
    // fall below the margin bar (otherwise the threshold is vacuous and
    // this is plain nearest-neighbor matching)
    val nSrc = graft.Tables(spark, sf01, "embeddings")
      .filter(col("vec_id") % 2 === 0).count()
    assert(mined.length < nSrc,
      s"margin bar rejected nothing: ${mined.length} of $nSrc sources mined")
  }

  test("semantic decontamination: flags are sound and recall brute-force truth") {
    val all = Tables(spark, sf01, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val bench = all.filter(_._1 % 20 == 0)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = all.filter(_._1 % 20 != 0).collect {
      case (id, v) if bench.exists(b =>
        math.floor(cos(v, b._2) * 1000000.0).toLong >= Similarity.DecontamQ) => id
    }.toSet
    val got = Similarity.decontaminateSemantic(spark, sf01).collect()
      .map(_.getLong(0)).toSet
    // soundness: every flag is verified by the exact cosine, so no false
    // positives are possible; recall depends only on the IVF blocking
    assert(got.subsetOf(truth), s"false flags: ${got -- truth}")
    assert(truth.nonEmpty, "corpus must contain semantic contamination")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.5, s"decontamination recall $recall vs brute truth")
  }

  test("ivf geometry scales with corpus size (lists ~ sqrt(N), probes track lists)") {
    assume(sys.env.get("SPARK_GRAFT_IVF_LISTS").isEmpty)
    // floor at the historical 32-list geometry for small corpora
    assert(Similarity.ivfListsFor(500) == 32)
    assert(Similarity.ivfListsFor(1024) == 32)
    // then sqrt growth: per-list work stays ~sqrt(N) at any corpus size
    assert(Similarity.ivfListsFor(2000) == 44)
    assert(Similarity.ivfListsFor(1000000) == 1000)
    assert(Similarity.ivfListsFor(10000000000L) == 100000)
    // probed fraction of the corpus stays constant as lists grow
    assert(Similarity.probesFor(32) == 4 && Similarity.probesFor(44) == 5)
    assert(Similarity.knnProbesFor(32) == 6 && Similarity.knnProbesFor(44) == 8)
    assert(Similarity.dedupProbesFor(32) == 4)
  }

  test("ivf centroids build at most once per table (memoized across the family)") {
    val before = Similarity.centroidBuilds.get()
    Similarity.annIvf(spark, sf01).collect()
    Similarity.knnJoin(spark, sf01).collect()
    Similarity.dedupSemantic(spark, sf01).collect()
    Similarity.annEval(spark, sf01).collect()
    val delta = Similarity.centroidBuilds.get() - before
    // 0 if another spec already warmed the cache for this table, 1 on a
    // cold run — never one build per query
    assert(delta <= 1, s"centroid build ran $delta times across 4 queries")
  }

  test("ann ivf recall holds at sf0.1 where the list count auto-scales past 32") {
    val sf1 = "/root/testdata/sf0.1"
    val exact = Similarity.annTopK(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.annIvf(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivf recall $recall at sf0.1 with auto-scaled lists")
  }

  test("ann pq: ADC shortlist + exact re-rank recalls the brute-force top-k") {
    val exact = Similarity.annTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.annPq(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // every query must yield a full top-5 (shortlist >= 5 candidates)
    assert(approx.size == exact.size, s"pq returned ${approx.size} rows")
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"pq recall $recall below target for 4x16-code ADC")
  }

  test("range join matches the nested-loop predicate semantics") {
    import org.apache.spark.sql.functions.unix_micros
    val pairs = RangeJoin.eventsFollowRange(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pairs.values.sum > 0, "self range join must produce pairs")
    // reference: direct (nested-loop) inequality join on micro data
    val e = Tables(spark, sf, "events")
    val a = e.select(col("event_id").as("a_id"), col("user_id").as("a_user"),
      col("event_type").as("a_type"), unix_micros(col("ts")).as("a_us"))
    val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
      unix_micros(col("ts")).as("b_us"))
    val ref = a.join(b,
        col("b_user") === col("a_user") && col("a_id") =!= col("b_id") &&
          col("b_us") >= col("a_us") && col("b_us") < col("a_us") + 1800000000L)
      .groupBy("a_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pairs == ref)
  }

  test("range-join rule: nested loop becomes a bin hash join, same result") {
    import org.apache.spark.sql.functions.{lit, unix_micros}
    val day = 86400000000L
    def q = {
      val o = Tables(spark, sf, "orders")
        .select(col("o_orderkey"), unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
      val e = Tables(spark, sf, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("e_us"))
      // PURE range join (no key): Spark alone plans a nested loop
      o.join(e, e("e_us") >= o("o_us") && e("e_us") < o("o_us") + lit(day))
    }
    val before = q.count() // un-rewritten reference
    assert(q.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    graft.plans.GraftOptimizations.install(spark)
    try {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"rule did not rewrite the nested loop:\n$plan")
      assert(q.count() == before, "rewrite changed the result")
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == graft.plans.RangeJoinRule)
  }

  test("ann lsh achieves reasonable recall vs brute force") {
    val exact = Similarity.annTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.annLsh(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"lsh recall $recall below target for 16x3 tables")
  }

  test("langid emits a prediction for every doc") {
    val n = Tables(spark, sf, "documents").count()
    assert(TextOps.langid(spark, sf).count() == n)
  }

  test("native graft_cosine expression: SQL-registered, matches the fold form") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_cosine(array(1.0d, 2.0d, 3.0d), array(3.0d, 2.0d, 1.0d)) AS c")
      .collect()(0).getDouble(0)
    val expected = (1.0 * 3 + 2 * 2 + 3 * 1) /
      (math.sqrt(1.0 + 4 + 9) * math.sqrt(9.0 + 4 + 1))
    assert(viaSql == expected)
    // the full query path through the expression agrees with the oracle
    // (q_ann_topk is hash-checked by the driver; sanity-check shape here)
    assert(Similarity.annTopK(spark, sf).count() == 50)
  }

  test("graft_bucket SQL function agrees with the manifest pruner's bucket") {
    import graft.functions.GraftFunctions
    import graft.table.{PartFieldMeta, Transforms}
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT graft_bucket(8, CAST(42 AS BIGINT)) AS b")
      .collect()(0).getInt(0)
    val viaPruner = Transforms.evalLiteral(
      PartFieldMeta("x", "bucket", List(1), Some(8)), Seq(42L)).get
    assert(viaSql.toString == viaPruner)
    // config-time injection path constructs cleanly
    new graft.functions.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("pii redaction: planted PII all removed, clean text has no residual matches") {
    val docs = graft.Tables(spark, sf01, "documents")
    val planted = docs.withColumn("txt", concat(
      col("text"),
      when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        lit(" call 555-123-4567 or 555-987-6543")).otherwise(lit(""))))
    val clean = planted.withColumn("clean", regexp_replace(regexp_replace(col("txt"),
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
      "[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]"))
    // nothing PII-shaped survives redaction
    assert(clean.filter(
      regexp_count(col("clean"), lit("[A-Za-z0-9._%+-]+@")) > 0 ||
        regexp_count(col("clean"), lit("[0-9]{3}-[0-9]{3}-[0-9]{4}")) > 0).count() == 0)
    // and the operator found every planted doc
    val agg = TextOps.piiRedact(spark, sf01)
      .agg(sum("emails"), sum("phones")).collect()(0)
    val expectEmails = docs.filter(col("doc_id") % 7 === 0).count()
    val expectPhones = docs.filter(col("doc_id") % 11 === 0).count() * 2
    assert(agg.getLong(0) == expectEmails && agg.getLong(1) == expectPhones)
  }

  test("span dedup: removed spans never exceed totals; duplicate docs flagged") {
    val rows = Dedup.dedupSpan(spark, sf01).collect()
    assert(rows.nonEmpty, "planted duplicate docs must surface span repeats")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_removed") <= r.getAs[Long]("n_chunks"))
    }
  }

  test("decontaminate: flagged docs genuinely share a 13-gram with the benchmark split") {
    val flagged = Dedup.decontaminate(spark, sf01).collect()
    assert(flagged.nonEmpty, "corpus has planted duplicates spanning the split")
    flagged.foreach(r => assert(r.getAs[Long]("n_hits") > 0))
    // no flagged doc is itself in the benchmark split
    assert(flagged.forall(_.getAs[Long]("doc_id") % 20 != 0))
  }

  test("incremental agg: refresh consumes only the delta; mutation is rejected") {
    import graft.table.GraftTable
    val tmp = java.nio.file.Files.createTempDirectory("graft-incrspec")
    val base = GraftTable.create(spark, tmp.resolve("b").toString,
      "k string, v double")
    val result = IncrementalAgg.createResult(spark, tmp.resolve("r").toString,
      "k", "string")
    import spark.implicits._
    base.append(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"))
    IncrementalAgg.refresh(base, result, "k", "v")
    val cursor1 = result.meta.properties("incr.last-snapshot-id")
    base.append(Seq(("a", 10.0), ("c", 5.0)).toDF("k", "v"))
    // the second refresh's delta is exactly the second append's files
    val deltaRows = base.scanIncremental(cursor1.toLong).count()
    assert(deltaRows == 2, s"delta must be the new files only, got $deltaRows rows")
    IncrementalAgg.refresh(base, result, "k", "v")
    val rows = result.scan().orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).doubleValue()))
    assert(rows.toSeq == Seq(("a", 2L, 11.0), ("b", 1L, 2.0), ("c", 1L, 5.0)))
    // idempotent: nothing new → no-op, same state
    IncrementalAgg.refresh(base, result, "k", "v")
    assert(result.scan().count() == 3)
    // a CoW delete on consumed files invalidates pure-append refresh
    base.delete("k = 'a'")
    base.append(Seq(("d", 1.0)).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      IncrementalAgg.refresh(base, result, "k", "v")
    }
  }

  test("overwritePartitions swaps only touched partitions' files") {
    import graft.table.{GraftTable, Meta}
    val tmp = java.nio.file.Files.createTempDirectory("graft-dpo").toString
    val t = GraftTable.create(spark, s"$tmp/t",
      "k bigint, day string, v double", partitionBy = Seq("identity(day)"))
    import spark.implicits._
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "b", 3.0))
      .toDF("k", "day", "v"))
    def filesByPart: Map[String, Set[String]] = {
      val m = t.meta
      Meta.readEntries(t.location, m.head("main").get)
        .filter(_.fileType == "data")
        .groupBy(_.partition.values.mkString)
        .view.mapValues(_.map(_.path).toSet).toMap
    }
    val before = filesByPart
    t.overwritePartitions(Seq((20L, "b", 20.0)).toDF("k", "day", "v"))
    val after = filesByPart
    assert(after("a") == before("a"), "untouched partition must keep its files")
    assert(after("b").intersect(before("b")).isEmpty, "touched partition swaps")
    val rows = t.scan().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "a", 1.0), (20L, "b", 20.0)))
    // unpartitioned tables must refuse
    val u = GraftTable.create(spark, s"$tmp/u", "k bigint, v double")
    intercept[IllegalArgumentException] {
      u.overwritePartitions(Seq((1L, 1.0)).toDF("k", "v"))
    }
  }

  test("scd2: as-of reads reconstruct every version; one open row per key") {
    import graft.table.GraftTable
    val tmp = java.nio.file.Files.createTempDirectory("graft-scd2spec")
    val dim = GraftTable.create(spark, tmp.resolve("d").toString,
      "k bigint, v double, valid_from bigint, valid_to bigint, is_current boolean")
    import spark.implicits._
    dim.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .withColumn("valid_from", lit(1L))
      .withColumn("valid_to", lit(Long.MaxValue))
      .withColumn("is_current", lit(true)))
    Scd2.apply2(dim, Seq((1L, 11.0)).toDF("k", "v"), "k", "v", version = 2L)
    Scd2.apply2(dim, Seq((1L, 12.0)).toDF("k", "v"), "k", "v", version = 3L)
    def asOf(ver: Long): Map[Long, Double] =
      dim.scan().filter(col("valid_from") <= ver && col("valid_to") > ver)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(asOf(1L) == Map(1L -> 10.0, 2L -> 20.0))
    assert(asOf(2L) == Map(1L -> 11.0, 2L -> 20.0))
    assert(asOf(3L) == Map(1L -> 12.0, 2L -> 20.0))
    // exactly one current row per key, and it matches the latest as-of
    val cur = dim.scan().filter(col("is_current"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cur == asOf(3L))
    assert(dim.scan().count() == 4)
  }

  test("hard negatives: mined pairs always cross labels") {
    val e = graft.Tables(spark, sf01, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val rows = Similarity.hardNegatives(spark, sf01).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(e(r.getAs[Long]("q_id")) != r.getAs[Int]("n_label"))
      assert(e(r.getAs[Long]("n_id")) == r.getAs[Int]("n_label"))
    }
  }

  test("split assign: stable 80/10/10 partition of every language") {
    val rows = Sampling.splitAssign(spark, sf01).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val total = rows.map(_._3).sum
    assert(total == graft.Tables(spark, sf01, "documents").count())
    val bySplit = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("q_attribution: last-touch credit matches a naive per-user replay") {
    val out = Behavioral.attribution(spark, sf01).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    case class E(id: Long, us: Long, typ: String, value: Double, k: Long)
    val byUser = graft.Tables(spark, sf01, "events")
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS us", "event_type",
        "value", "cast(get_json_object(props, '$.k') AS long) % 10 AS k")
      .collect()
      .map(r => r.getLong(0) ->
        E(r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4), r.getLong(5)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val naive = scala.collection.mutable.Map[String, (Long, BigDecimal)]()
    for ((_, evs) <- byUser) {
      // the engine's order: (ts, event_id); a click strictly earlier in
      // that order is eligible, a simultaneous-ts click with a SMALLER
      // event_id included, larger excluded
      val sorted = evs.filter(e => e.typ == "click" || e.typ == "purchase")
        .sortBy(e => (e.us, e.id))
      for ((p, i) <- sorted.zipWithIndex if p.typ == "purchase") {
        val last = sorted.take(i).reverseIterator.find(_.typ == "click")
        val camp = last match {
          case Some(c) if p.us - c.us <= 7L * 24 * 3600 * 1000000 => s"c${c.k}"
          case _ => "organic"
        }
        val (n, v) = naive.getOrElse(camp, (0L, BigDecimal(0)))
        naive(camp) = (n + 1, v + BigDecimal(p.value.toString).setScale(6))
      }
    }
    assert(out.keySet == naive.keySet)
    naive.foreach { case (camp, (n, rev)) =>
      assert(out(camp)._1 == n, s"$camp purchase count")
      assert(math.abs(out(camp)._2 - rev.toDouble) < 1e-6, s"$camp revenue")
    }
    // both attributed and organic purchases must exist on this data
    assert(naive.contains("organic") && naive.exists(_._1 != "organic"))
  }

  test("q_maintenance: six-step gauntlet keeps the logical table and proves work") {
    val rows = GraftOps.queries("q_maintenance")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("deletes_coalesced"),
        "rewriteDeleteFiles did not coalesce to one posdel file")
      assert(r.getAs[Boolean]("delete_files_gone"),
        "compaction left delete files live")
      assert(r.getAs[Boolean]("orphans_swept"),
        "orphan sweep found nothing after compaction+expiry")
    }
    val expect = graft.Tables(spark, sf, "orders")
      .filter(col("o_orderkey") % 10 =!= 7 && col("o_orderkey") % 10 =!= 4)
      .groupBy(col("o_orderstatus")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("n") == expect(r.getString(0)), r.getString(0)))
  }

  test("q_curriculum: count-based stages quarter the corpus with disjoint ranges") {
    val rows = Sampling.curriculum(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val total = graft.Tables(spark, sf01, "documents").count()
    assert(rows.map(_._2).sum == total)
    // ties share a stage -> per-stage difficulty ranges never overlap
    rows.sliding(2).foreach { case Array((_, _, _, hi), (_, _, lo, _)) =>
      assert(hi < lo, s"stage ranges overlap: $hi >= $lo")
    }
    // count-based boundaries: no stage can exceed a quarter by more than
    // a modest tie pileup on this near-uniform difficulty distribution
    rows.foreach { case (_, n, _, _) =>
      assert(n <= total / 4 + total / 10 + 1, s"stage size $n far beyond quarter")
    }
  }

  test("q_domain_cap: rates and kept sets replay the md5 gate exactly") {
    val out = Sampling.domainCap(spark, sf01).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = graft.Tables(spark, sf01, "documents")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val total = bySrc.values.sum
    val rate = bySrc.view
      .mapValues(s => math.min(1000000L, total * 40000L / s)).toMap
    def gate(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cap:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 1000000L
    }
    val kept = docs.filter { case (id, src, _) => gate(id) < rate(src) }
    val keptBySrc = kept.groupBy(_._2)
    assert(out.keySet == keptBySrc.keySet)
    keptBySrc.foreach { case (src, ds) =>
      assert(out(src)._1 == ds.length.toLong, s"$src kept count")
      assert(out(src)._2 == ds.map(_._3).sum, s"$src kept chars")
      assert(out(src)._3 == rate(src), s"$src rate_ppm")
    }
    // uniform testdata: every source sits over the 4% cap, so every
    // rate must actually gate (a vacuous always-pass rate would hide a
    // broken gate)
    assert(out.values.forall(_._3 < 1000000L))
    assert(kept.length < docs.length)
  }

  test("funnel: step counts are monotonically non-increasing") {
    val r = Behavioral.funnel(spark, sf01).collect().head
    val steps = Seq("n_signup", "n_view", "n_click", "n_purchase")
      .map(r.getAs[Long])
    assert(steps.head > 0)
    assert(steps.zip(steps.tail).forall { case (a, b) => a >= b })
  }

  test("cohort retention: offset-0 row equals cohort size; offsets bounded") {
    val rows = Behavioral.cohortRetention(spark, sf01).collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // every user is active in their own cohort week -> offset 0 is the max
    val byCohort = rows.groupBy(_._1)
    byCohort.values.foreach { rs =>
      val m = rs.map(r => r._2 -> r._3).toMap
      assert(m.contains(0L))
      assert(m.values.forall(_ <= m(0L)))
    }
    // 30-day window -> offsets 0..4
    assert(rows.forall(r => r._2 >= 0 && r._2 <= 4))
  }

  test("stream incr agg: streaming maintenance equals the batch result") {
    val s = IncrementalAgg.streamIncrAggQuery(spark, sf01).collect().map(_.toSeq)
    val b = IncrementalAgg.incrAggQuery(spark, sf01).collect().map(_.toSeq)
    assert(s.toSeq == b.toSeq)
  }

  test("cluster sample: at most k docs per cluster, ranked by length") {
    val rows = Clustering.clusterSample(spark, sf01).collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster"))
    assert(byCluster.nonEmpty)
    byCluster.values.foreach { rs =>
      assert(rs.length <= Clustering.TopPerCluster)
      val lens = rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("n_chars"))
      assert(lens.zip(lens.tail).forall { case (a, b) => a >= b })
    }
  }

  test("incremental dedup: index probe finds cross-partition dups only") {
    val out = IncrementalDedup.incrementalDedup(spark, sf01).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % 10 == 0, "new_id must be from the batch")
      assert(r.getLong(1) % 10 != 0, "old_id must be from history")
    }
  }

  test("graft_hll_ndv aggregate: SQL-callable, partition-invariant merge") {
    graft.functions.GraftFunctions.register(spark)
    graft.Tables(spark, sf01, "lineitem").createOrReplaceTempView("li_hll")
    val viaSql = spark.sql(
      "SELECT graft_hll_ndv(l_orderkey) AS sk FROM li_hll").collect().head
      .getStruct(0)
    // the merge path must give the identical sketch for any partitioning
    val skewed = graft.Tables(spark, sf01, "lineitem").repartition(17)
      .agg(graft.functions.HllNdvAgg.hllNdv(col("l_orderkey")).as("sk"))
      .collect().head.getStruct(0)
    assert(viaSql.getLong(1) == skewed.getLong(1), "t must be partition-invariant")
    assert(viaSql.getDouble(2) == skewed.getDouble(2))
  }

  test("graft_cms aggregate: upper bound, partition-invariant, SQL-callable") {
    val r = Sketches.cmsTopk(spark, sf01).collect()
    assert(r.length == 20)
    // CMS estimates never undercount, and at 150 keys x 1024 buckets the
    // min over 4 rows should be within a small additive error
    r.foreach { row =>
      val (exact, est) = (row.getLong(1), row.getLong(2))
      assert(est >= exact, s"CMS must upper-bound: $est < $exact")
      assert(est - exact <= 200, s"CMS error too large: $est vs $exact")
    }
    // merge path: identical grid under any partitioning
    graft.functions.GraftFunctions.register(spark)
    graft.Tables(spark, sf01, "events").createOrReplaceTempView("ev_cms")
    val viaSql = spark.sql("SELECT graft_cms(user_id) AS sk FROM ev_cms")
      .collect().head.getSeq[Long](0)
    val skewed = graft.Tables(spark, sf01, "events").repartition(17)
      .agg(graft.functions.CmsSketchAgg.cms(col("user_id")).as("sk"))
      .collect().head.getSeq[Long](0)
    assert(viaSql == skewed, "grid must be partition-invariant")
    assert(viaSql.sum == 4L * graft.Tables(spark, sf01, "events").count())
  }

  test("graft_hist_quantile: within one bin of exact, partition-invariant") {
    val rows = Sketches.histQuantiles(spark, sf01).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // upper-edge estimate of the ceil(p*n)-th value: within ~2 bins of
      // the R-7 interpolated exact quantile on this data
      assert(math.abs(r.getDouble(2) - r.getDouble(5)) <= 8.0,
        s"p50 sketch ${r.getDouble(2)} vs exact ${r.getDouble(5)}")
      // p99 at ~50 rows/group sits in the sparse tail: the sketch answers
      // the bin of the ceil(.99n)-th = max value while R-7 interpolates
      // below it, so the gap is order-statistic spacing, not sketch error
      assert(r.getDouble(4) >= r.getDouble(6) - 4.0 &&
        r.getDouble(4) <= r.getDouble(6) + 32.0,
        s"p99 sketch ${r.getDouble(4)} vs exact ${r.getDouble(6)}")
    }
    graft.functions.GraftFunctions.register(spark)
    graft.Tables(spark, sf01, "documents").createOrReplaceTempView("docs_hist")
    val viaSql = spark.sql(
      "SELECT graft_hist_quantile(n_chars, 0, 1024, 256) AS sk FROM docs_hist")
      .collect().head.getStruct(0)
    val skewed = graft.Tables(spark, sf01, "documents").repartition(17)
      .agg(graft.functions.HistQuantileAgg
        .histQuantile(col("n_chars"), 0L, 1024L, 256).as("sk"))
      .collect().head.getStruct(0)
    assert(viaSql == skewed, "histogram must be partition-invariant")
  }

  test("graft_minhash: estimate near exact Jaccard, duplicate-insensitive") {
    val rows = Sketches.groupMinhash(spark, sf01).collect()
    assert(rows.length == 3) // flag pairs (A,N) (A,R) (N,R)
    rows.foreach { r =>
      val (est, exact) = (r.getDouble(2), r.getDouble(3))
      // K=64 -> std error sqrt(J(1-J)/64) <= 0.0625; allow ~2.5 sigma
      assert(math.abs(est - exact) <= 0.16,
        s"${r.getString(0)}/${r.getString(1)}: est $est vs exact $exact")
    }
    // min-merge is idempotent: signature over the multiset == over the set
    val li = graft.Tables(spark, sf01, "lineitem")
    val full = li.agg(graft.functions.MinHashSigAgg.minhash(col("l_orderkey")).as("s"))
      .collect().head.getSeq[Long](0)
    val dedup = li.select(col("l_orderkey")).distinct().repartition(13)
      .agg(graft.functions.MinHashSigAgg.minhash(col("l_orderkey")).as("s"))
      .collect().head.getSeq[Long](0)
    assert(full == dedup, "multiset and set signatures must agree")
  }

  test("graft_kmv: set-algebra estimates near exact, partition-invariant") {
    val rows = Sketches.thetaSets(spark, sf01).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (estU, exU) = (r.getDouble(2), r.getLong(3))
      val (estI, exI) = (r.getDouble(4), r.getLong(5))
      // K=256 -> ~6.3% relative error on the union; allow 4 sigma
      assert(math.abs(estU - exU) <= 0.25 * exU + 1,
        s"${r.getString(0)}/${r.getString(1)}: union est $estU vs exact $exU")
      // intersection inherits the union's theta: same relative scale but
      // against the UNION size, so bound the absolute error by that
      assert(math.abs(estI - exI) <= 0.25 * exU + 1,
        s"${r.getString(0)}/${r.getString(1)}: inter est $estI vs exact $exI")
    }
    // merge is a bounded set union: identical sketch under any
    // partitioning AND duplicate-insensitive
    val ev = graft.Tables(spark, sf01, "events")
    val full = ev.agg(graft.functions.KmvSketchAgg.kmv(col("user_id")).as("s"))
      .collect().head.getSeq[Long](0)
    val dedup = ev.select(col("user_id")).distinct().repartition(13)
      .agg(graft.functions.KmvSketchAgg.kmv(col("user_id")).as("s"))
      .collect().head.getSeq[Long](0)
    assert(full == dedup, "multiset and set sketches must agree")
    assert(full.length <= graft.functions.KmvSketchAgg.K)
    assert(full == full.sorted, "sketch must be the ascending bottom-k")
    // SQL-callable
    graft.functions.GraftFunctions.register(spark)
    ev.createOrReplaceTempView("ev_kmv")
    val viaSql = spark.sql("SELECT graft_kmv(user_id) AS sk FROM ev_kmv")
      .collect().head.getSeq[Long](0)
    assert(viaSql == full)
  }

  test("q_stream_attribution: stateful replay equals the batch window exactly") {
    val batch = Behavioral.attribution(spark, sf01).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val stream = StreamingOps.queries("q_stream_attribution")(spark, sf01).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // both sum the same DECIMAL(18,6) set per campaign -> doubles equal
    // bit-for-bit, so exact set equality is the right assertion
    assert(stream == batch)
  }

  test("q_stream_sketch: streaming windowed NDV matches batch truth") {
    val out = StreamingOps.streamSketch(spark, sf01)
    val got = out.collect()
    assert(got.nonEmpty)
    // batch truth: exact distinct users per hourly window
    val exact = graft.Tables(spark, sf01, "events")
      .groupBy(date_trunc("hour", col("ts")).as("ws"))
      .agg(countDistinct(col("user_id")).as("ndv"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(got.length == exact.size, "every real window must emit exactly once")
    got.foreach { r =>
      val (ws, est, ex) = (r.getTimestamp(0), r.getDouble(4), exact(r.getTimestamp(0)))
      // p=9 HLL: 4.6% baseline error; small windows stay well within 25%
      assert(math.abs(est - ex) / ex <= 0.25, s"$ws: est $est vs exact $ex")
    }
  }

  test("hll ndv: estimate within 15% of exact; register bounds hold") {
    val r = Sketches.hllNdv(spark, sf01).collect().head
    val (nreg, est, exact) = (r.getAs[Long]("n_registers"),
      r.getAs[Double]("ndv_est"), r.getAs[Long]("ndv_exact"))
    assert(nreg > 0 && nreg <= Sketches.M)
    assert(math.abs(est - exact) / exact < 0.15,
      s"est $est vs exact $exact drifts beyond 3 sigma")
  }

  test("kmeans: clusters partition the corpus; update reduces inertia") {
    val out = Clustering.kmeansQuery(spark, sf01).collect()
    assert(out.nonEmpty && out.length <= Clustering.K)
    val n = out.map(_.getAs[Long]("n_vecs")).sum
    assert(n == graft.Tables(spark, sf01, "embeddings").count())
    out.foreach(r => assert(r.getAs[Long]("inertia") >= 0L))
    // determinism: identical stats on a re-run
    val again = Clustering.kmeansQuery(spark, sf01).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("train shuffle: shards partition the corpus; permutation is stable") {
    val out = Sampling.trainShuffle(spark, sf01).collect()
    assert(out.length == Sampling.NumShards)
    val total = out.map(_.getAs[Long]("n_docs")).sum
    assert(total == graft.Tables(spark, sf01, "documents").count())
    // deterministic: a second run yields the identical manifest
    val again = Sampling.trainShuffle(spark, sf01).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("mix temperature: rarest lang keeps all, dominant is damped") {
    val rows = Sampling.mixTemperature(spark, sf01).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byRate = rows.sortBy(_._2)
    assert(byRate.head._3 == 1.0) // sqrt(n_min/n_min)
    assert(byRate.last._3 < byRate.head._3)
    // sampled count is near expectation (md5 gate is uniform)
    rows.foreach { case (_, n, rate, sampled) =>
      assert(math.abs(sampled - n * rate) <= 4 * math.sqrt(n * rate * (1 - rate)) + 1)
    }
  }

  test("dup clusters: valid connected components of the pair graph") {
    import spark.implicits._
    // a path A-B-C (diameter 2, needs >1 propagation round), a pair, a clique
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (20L, 22L), (21L, 22L)).toDF("a_id", "b_id")
    val rep = CorpusGraph.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rep == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // on real data: every dup pair's endpoints land in the same cluster,
    // every rep is a member of its own cluster
    val out = CorpusGraph.dupClusters(spark, sf01).cache()
    val byDoc = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val realPairs = graft.ops.Dedup
      .minhashVerifiedPairs(graft.Tables(spark, sf01, "documents"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(realPairs.nonEmpty)
    realPairs.foreach { case (a, b) => assert(byDoc(a) == byDoc(b)) }
    byDoc.values.toSet.foreach { (rp: Long) => assert(byDoc(rp) == rp) }
  }

  test("gap fill: grid is contiguous per user and every slot is filled") {
    val rows = TimeSeries.gapFill(spark, sf01).collect()
    val ev = graft.Tables(spark, sf01, "events")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
    val spans = ev.groupBy("user_id")
      .agg(((unix_timestamp(max(col("h"))) - unix_timestamp(min(col("h")))) / 3600 + 1)
        .cast("long").as("span"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val u = r.getLong(0)
      assert(r.getAs[Long]("n_hours") == spans(u),
        s"user $u grid must cover min..max hours exactly")
      assert(r.getAs[Long]("n_observed") <= r.getAs[Long]("n_hours"))
      assert(!r.isNullAt(r.fieldIndex("sum_filled")),
        "forward fill from the first observed hour leaves no gaps")
    }
  }

  test("bm25: top-20 descending, scores match a scalar re-computation") {
    val out = TextOps.bm25(spark, sf).collect()
    assert(out.length == 20)
    val scores = out.map(_.getDouble(1))
    assert(scores.sameElements(scores.sortBy(-_)), "must be score-descending")
    assert(scores.forall(_ > 0.0))
    // recompute one doc's score from raw token counts
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
    val n = docs.length.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n.toDouble
    val qts = Seq("hash", "join", "vector")
    val dfm = qts.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    val top = out.head
    val toks = docs.toMap.apply(top.getLong(0))
    val expected = qts.map { t =>
      val tf = toks.count(_ == t).toLong
      if (tf == 0) 0.0
      else {
        val idf = math.log(((n - dfm(t)).toDouble + 0.5) / (dfm(t).toDouble + 0.5) + 1.0)
        idf * (tf.toDouble * 2.2) /
          (tf.toDouble + 1.2 * (1.0 - 0.75 + 0.75 * (toks.length.toDouble / avgdl)))
      }
    }.reduceLeft(_ + _)
    assert(math.abs(top.getDouble(1) - expected) < 1e-5,
      s"doc ${top.getLong(0)}: ${top.getDouble(1)} vs recomputed $expected")
  }

  test("native as-of exec equals the window composition, plans as AsOfJoinExec") {
    val native = AsOfJoin.eventsAsOfOrdersNative(spark, sf)
    val composed = AsOfJoin.eventsAsOfOrders(spark, sf)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "), s"custom exec must plan:\n$plan")
    assert(!plan.contains("Window"), "the native path must not fall back to a window")
    val a = native.collect().map(_.toSeq)
    val b = composed.collect().map(_.toSeq)
    assert(a.length == b.length && a.indices.forall(i => a(i) == b(i)),
      "native exec must be row-identical to the composed as-of")
  }

  test("every registered query has an oracle and vice versa") {
    val qs = graft.SparkEntry.queries.keySet
    val os = graft.SparkEntry.oracleSql.keySet
    assert(qs == os,
      s"missing oracles: ${(qs -- os).toSeq.sorted}; orphaned oracles: ${(os -- qs).toSeq.sorted}")
  }

  test("pagerank: matches a scalar recompute of the integer iteration") {
    val out = GraphRank.pagerank(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.nonEmpty)
    assert(out.map(_._2).sameElements(out.map(_._2).sortBy(-_)))
    // scalar recompute from the raw edge set
    val edges = graft.Tables(spark, sf, "lineitem")
      .join(graft.Tables(spark, sf, "orders"), expr("l_orderkey = o_orderkey"))
      .join(graft.Tables(spark, sf, "customer"), expr("o_custkey = c_custkey"))
      .join(graft.Tables(spark, sf, "supplier"), expr("l_suppkey = s_suppkey"))
      .join(graft.Tables(spark, sf, "nation").select(col("n_nationkey").as("cnk"),
        col("n_name").as("src")), expr("c_nationkey = cnk"))
      .join(graft.Tables(spark, sf, "nation").select(col("n_nationkey").as("snk"),
        col("n_name").as("dst")), expr("s_nationkey = snk"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val tw = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._3).sum }
    val ns = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var r = ns.map(_ -> 1000000L).toMap
    (1 to GraphRank.Iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => ((r(e._1) * 85L) / 100L) * e._3 / tw(e._1)).sum
      }
      r = ns.map(nm => nm -> (150000L + in.getOrElse(nm, 0L))).toMap
    }
    out.foreach { case (nm, got) =>
      assert(got == r(nm), s"$nm: $got vs scalar ${r(nm)}")
    }
  }

  test("native session_window equals the flatMapGroupsWithState sessions") {
    val a = StreamingOps.streamSessionWindow(spark, sf).collect().map(_.toSeq).toSet
    val b = StreamingOps.streamSessions(spark, sf).collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b,
      s"native ${a.size} sessions vs custom ${b.size}")
  }

  test("embed covariance: diagonal nonnegative, entries match scalar recompute") {
    val out = Similarity.embedCov(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 64 * 65 / 2, "full upper triangle")
    (0L until 64L).foreach(i => assert(out((i, i)) >= 0.0, s"var($i) < 0"))
    val vecs = graft.Tables(spark, sf, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length.toDouble
    def cov(i: Int, j: Int): Double = {
      val sxy = vecs.map(v => math.floor(v(i) * v(j) * 1e12 + 0.5).toLong).sum
      val sxi = vecs.map(v => math.floor(v(i) * 1e12 + 0.5).toLong).sum
      val sxj = vecs.map(v => math.floor(v(j) * 1e12 + 0.5).toLong).sum
      sxy.toDouble / 1e12 / n - (sxi.toDouble / 1e12 / n) * (sxj.toDouble / 1e12 / n)
    }
    Seq((0, 0), (0, 1), (3, 17)).foreach { case (i, j) =>
      assert(math.abs(out((i.toLong, j.toLong)) - cov(i, j)) < 1e-12,
        s"cov($i,$j): ${out((i.toLong, j.toLong))} vs ${cov(i, j)}")
    }
  }

  test("spatial join: grid-bucketed pairs equal the brute-force pairs") {
    val got = SpatialJoin.spatialJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pts = graft.Tables(spark, sf, "orders")
      .selectExpr("o_orderkey AS id", "o_orderkey % 360 - 180 AS x",
        "o_custkey % 180 - 90 AS y")
      .filter("x BETWEEN -60 AND 60 AND y BETWEEN -45 AND 45")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= 4
    } yield (a._1, b._1, d2)).toSet
    assert(brute.nonEmpty, "test scenario must produce pairs")
    assert(got == brute, s"grid join ${got.size} pairs vs brute ${brute.size}")
  }

  test("bloom semi join: identical to plain semi join, guard prunes pre-shuffle") {
    val li = graft.Tables(spark, sf, "lineitem")
    val supp = graft.Tables(spark, sf, "supplier").filter(col("s_nationkey") === 3)
    val got = BloomJoin.bloomSemiJoin(li, supp, "l_suppkey", "s_suppkey")
      .select("l_orderkey", "l_linenumber")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val plain = li.join(supp, li("l_suppkey") === supp("s_suppkey"), "left_semi")
      .select("l_orderkey", "l_linenumber")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == plain, "bloom guard must not change the semi-join result")
    assert(plain.nonEmpty && plain.size < li.count(),
      "the guard scenario must actually be selective")
  }

  test("lm score: ascending bottom-k, matches scalar recompute") {
    val out = TextOps.lmScore(spark, sf).collect()
    assert(out.length == 20)
    val scores = out.map(_.getDouble(2))
    assert(scores.sameElements(scores.sorted), "must be ascending (worst first)")
    // recompute the worst doc's score from raw tokens
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).filter(_._2.length >= 2)
    val bigrams = docs.flatMap(d => d._2.sliding(2).map(p => (p(0), p(1))))
    val c2 = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val c1 = bigrams.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val v = docs.flatMap(_._2).distinct.length.toLong
    val top = out.head
    val toks = docs.toMap.apply(top.getLong(0))
    val lps = toks.sliding(2).map { p =>
      val pr = (c2((p(0), p(1))) + 1L).toDouble / (c1(p(0)) + v).toDouble
      math.floor(math.log(pr) * 1e8 + 0.5).toLong
    }.toSeq
    assert(top.getLong(1) == lps.length)
    val expected = lps.sum.toDouble / 1e8 / lps.length.toDouble
    assert(math.abs(top.getDouble(2) - expected) < 1e-9,
      s"doc ${top.getLong(0)}: ${top.getDouble(2)} vs $expected")
  }

  test("moving window: trailing-6h peak equals brute force") {
    val out = TimeSeries.movingWindow(spark, sf).collect()
    val ev = graft.Tables(spark, sf, "events")
      .select(col("user_id"), col("ts").cast("long").as("sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = ev.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2) }
    assert(out.nonEmpty)
    out.foreach { r =>
      val secs = byUser(r.getLong(0))
      assert(r.getLong(1) == secs.length)
      val peak = secs.map(s => secs.count(t => t <= s && t >= s - 21600L)).max
      assert(r.getLong(2) == peak,
        s"user ${r.getLong(0)}: peak_cnt ${r.getLong(2)} vs brute $peak")
    }
  }

  test("stream dedup: re-delivered events collapse to exactly-once counts") {
    val out = StreamingOps.streamDedup(spark, sf01)
      .agg(sum("n")).collect()(0).getLong(0)
    val distinct = graft.Tables(spark, sf01, "events").select("event_id").distinct().count()
    assert(out == distinct, s"deduped stream must equal $distinct distinct events, got $out")
  }

  test("SQL INSERT OVERWRITE honors dynamic partitionOverwriteMode") {
    import org.apache.spark.sql.SparkSession
    val wh = java.nio.file.Files.createTempDirectory("graft-dynwh").toString
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      s2.conf.set("spark.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.db.p (k BIGINT, day STRING, v BIGINT) " +
        "PARTITIONED BY (identity(day))")
      s2.sql("INSERT INTO graft.db.p VALUES (1, 'a', 10), (2, 'b', 20), (3, 'b', 30)")
      // dynamic: only partition 'b' (present in the data) is replaced
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      s2.sql("INSERT OVERWRITE graft.db.p VALUES (9, 'b', 90)")
      val dyn = s2.sql("SELECT k FROM graft.db.p ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      assert(dyn == Seq(1L, 9L), s"dynamic overwrite kept wrong rows: $dyn")
      // static (default): the whole visible table is replaced
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      s2.sql("INSERT OVERWRITE graft.db.p VALUES (7, 'c', 70)")
      val st = s2.sql("SELECT k FROM graft.db.p").collect().map(_.getLong(0)).toSeq
      assert(st == Seq(7L), s"static overwrite must replace all: $st")
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark); SparkSession.setActiveSession(spark)
    }
  }

  test("SQL CTAS: schema from query, guards, OR REPLACE swaps") {
    import org.apache.spark.sql.SparkSession
    val wh = java.nio.file.Files.createTempDirectory("graft-ctaswh2").toString
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      s2.conf.set("spark.graft.warehouse", wh)
      s2.range(10).selectExpr("id", "id * 2 AS v").createOrReplaceTempView("src10")
      s2.sql("CREATE TABLE graft.db.c PARTITIONED BY (bucket(2, id)) AS " +
        "SELECT * FROM src10 WHERE id < 5")
      val cat = new graft.table.GraftCatalog(s2, wh)
      assert(cat.tableExists("db", "c"))
      assert(cat.loadTable("db", "c").meta.spec(0).fields.head.transform == "bucket")
      assert(s2.sql("SELECT * FROM graft.db.c").count() == 5)
      // plain CTAS into an existing table must fail; IF NOT EXISTS is a no-op
      intercept[IllegalStateException] {
        s2.sql("CREATE TABLE graft.db.c AS SELECT * FROM src10")
      }
      s2.sql("CREATE TABLE IF NOT EXISTS graft.db.c AS SELECT * FROM src10")
      assert(s2.sql("SELECT * FROM graft.db.c").count() == 5)
      // REPLACE of a missing table fails; OR REPLACE creates-or-swaps
      intercept[IllegalStateException] {
        s2.sql("REPLACE TABLE graft.db.missing AS SELECT * FROM src10")
      }
      s2.sql("CREATE OR REPLACE TABLE graft.db.c AS SELECT id FROM src10")
      val got = s2.sql("SELECT * FROM graft.db.c")
      assert(got.count() == 10 && got.columns.toSeq == Seq("id"))
      // failure atomicity: a REPLACE whose query fails mid-run must leave
      // the previous table fully intact (materialize-then-swap, not
      // drop-then-write)
      intercept[Exception] {
        s2.sql("CREATE OR REPLACE TABLE graft.db.c AS " +
          "SELECT * FROM parquet.`/nonexistent/rtas-input`")
      }
      assert(cat.tableExists("db", "c"), "previous table lost by failed RTAS")
      assert(s2.sql("SELECT * FROM graft.db.c").count() == 10)
      // and no staging leftovers are listed
      assert(cat.listTables("db").forall(!_.startsWith(".")))
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark); SparkSession.setActiveSession(spark)
    }
  }

  test("SQL DDL + procedures: full lifecycle through spark.sql") {
    import org.apache.spark.sql.SparkSession
    val wh = java.nio.file.Files.createTempDirectory("graft-ddlwh").toString
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      s2.conf.set("spark.graft.warehouse", wh)
      s2.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
      s2.sql("CREATE TABLE graft.db.t (id BIGINT, name STRING, amount INT) " +
        "PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('write.sort'='id')")
      val cat = new graft.table.GraftCatalog(s2, wh)
      assert(cat.tableExists("db", "t"))
      assert(cat.loadTable("db", "t").meta.properties("write.sort") == "id")
      assert(cat.loadTable("db", "t").meta.spec(0).fields.head.transform == "bucket")
      // idempotent create
      s2.sql("CREATE TABLE IF NOT EXISTS graft.db.t (id BIGINT)")
      intercept[IllegalStateException] { s2.sql("CREATE TABLE graft.db.t (id BIGINT)") }
      // inserts + schema evolution, all SQL
      s2.sql("INSERT INTO graft.db.t VALUES (1, 'alice', 10), (2, 'bob', 20)")
      s2.sql("ALTER TABLE graft.db.t ADD COLUMNS (age INT)")
      s2.sql("ALTER TABLE graft.db.t RENAME COLUMN name TO full_name")
      s2.sql("ALTER TABLE graft.db.t ALTER COLUMN amount TYPE BIGINT")
      s2.sql("INSERT INTO graft.db.t VALUES (3, 'carol', 30, 44)")
      val rows = s2.sql("SELECT id, full_name, amount, age FROM graft.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), Option(r.get(3))))
      assert(rows.toSeq == Seq((1L, "alice", 10L, None), (2L, "bob", 20L, None),
        (3L, "carol", 30L, Some(44))))
      // ADD COLUMNS with DEFAULT = v3 initial-default (applies to OLD rows)
      s2.sql("ALTER TABLE graft.db.t ADD COLUMNS (tier STRING DEFAULT 'basic')")
      assert(s2.sql("SELECT count(*) FROM graft.db.t WHERE tier = 'basic'")
        .head().getLong(0) == 3)
      s2.sql("ALTER TABLE graft.db.t DROP COLUMN age")
      assert(!s2.sql("SELECT * FROM graft.db.t").columns.contains("age"))
      // DESCRIBE surfaces logical schema + partition spec
      val desc = s2.sql("DESCRIBE TABLE graft.db.t").collect().map(_.getString(0))
      assert(desc.contains("full_name") && desc.contains("# Partition Information"))
      // SHOW TABLES / NAMESPACES
      assert(s2.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1)).contains("t"))
      assert(s2.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).contains("db"))
      // CALL procedures: branch/tag, rollback, compaction, expiry
      val t = cat.loadTable("db", "t")
      val headBefore = t.meta.lastSnapshotId
      s2.sql(s"CALL graft.system.create_tag('db.t', 'v1', $headBefore)")
      s2.sql("INSERT INTO graft.db.t VALUES (9, 'zed', 90, 'gold')")
      s2.sql(s"CALL graft.system.rollback_to_snapshot('db.t', $headBefore)")
      assert(s2.sql("SELECT count(*) FROM graft.db.t").head().getLong(0) == 3)
      s2.sql("CALL graft.system.rewrite_data_files(table => 'db.t')")
      val rm = s2.sql("CALL graft.system.rewrite_manifests('db.t')")
        .head().getString(0)
      assert(rm.contains("1 segment"), rm)
      val expired = s2.sql("CALL graft.system.expire_snapshots('db.t')")
        .head().getString(0)
      assert(expired.startsWith("expired"), expired)
      assert(s2.sql("SELECT count(*) FROM graft.db.t").head().getLong(0) == 3)
      // table properties via SQL; SHOW TBLPROPERTIES / SHOW CREATE TABLE
      s2.sql("ALTER TABLE graft.db.t SET TBLPROPERTIES ('write.sort'='full_name')")
      assert(cat.loadTable("db", "t").meta.properties("write.sort") == "full_name")
      val shown = s2.sql("SHOW TBLPROPERTIES graft.db.t").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(shown("write.sort") == "full_name")
      s2.sql("ALTER TABLE graft.db.t UNSET TBLPROPERTIES ('write.sort')")
      assert(!cat.loadTable("db", "t").meta.properties.contains("write.sort"))
      // ANSI CHECK constraints end to end in SQL: ADD validates existing
      // data, enforcement is inline on SQL writes, DROP re-allows — and
      // the raw TBLPROPERTIES route hits the same validation chokepoint
      s2.sql("ALTER TABLE graft.db.t ADD CONSTRAINT amt_pos CHECK (amount > 0)")
      intercept[graft.table.ConstraintViolationException] {
        s2.sql("INSERT INTO graft.db.t VALUES (8, 'neg', -1, 'basic')")
      }
      assert(s2.sql("SELECT count(*) FROM graft.db.t").head().getLong(0) == 3,
        "refused insert must not land")
      intercept[graft.table.ConstraintViolationException] {
        s2.sql("ALTER TABLE graft.db.t ADD CONSTRAINT amt_small CHECK (amount < 5)")
      }
      intercept[graft.table.ConstraintViolationException] {
        s2.sql("ALTER TABLE graft.db.t SET TBLPROPERTIES ('check.small'='amount < 5')")
      }
      s2.sql("ALTER TABLE graft.db.t DROP CONSTRAINT amt_pos")
      assert(!cat.loadTable("db", "t").meta.properties.contains("check.amt_pos"))
      intercept[IllegalArgumentException] {
        s2.sql("ALTER TABLE graft.db.t DROP CONSTRAINT nope")
      }
      s2.sql("ALTER TABLE graft.db.t DROP CONSTRAINT IF EXISTS nope")
      // zero-copy clone as a catalog procedure: content equal at clone
      // time, then full divergence; the clone commit moves no data bytes
      s2.sql("CALL graft.system.clone('db.t', 'db.tclone')")
      assert(s2.sql("SELECT count(*) FROM graft.db.tclone").head().getLong(0) == 3)
      s2.sql("INSERT INTO graft.db.tclone VALUES (50, 'dora', 500, 'gold')")
      assert(s2.sql("SELECT count(*) FROM graft.db.tclone").head().getLong(0) == 4)
      assert(s2.sql("SELECT count(*) FROM graft.db.t").head().getLong(0) == 3,
        "source must not see the clone's divergent insert")
      s2.sql("DROP TABLE graft.db.tclone")
      val ct = s2.sql("SHOW CREATE TABLE graft.db.t").head().getString(0)
      assert(ct.contains("CREATE TABLE graft.db.t") && ct.contains("full_name") &&
        ct.contains("bucket(4, id)"), ct)
      // $partitions / $history metadata tables
      val parts = s2.sql("SELECT * FROM graft.db.`t$partitions`").collect()
      assert(parts.nonEmpty && parts.map(_.getAs[Long]("row_count")).sum == 3)
      assert(s2.sql("SELECT * FROM graft.db.`t$history`")
        .filter("is_current_ancestor").count() >= 1)
      // RENAME TO + TRUNCATE (truncate preserves history → rollback works)
      s2.sql("ALTER TABLE graft.db.t RENAME TO graft.db.t1")
      assert(cat.tableExists("db", "t1") && !cat.tableExists("db", "t"))
      s2.sql("ALTER TABLE graft.db.t1 RENAME TO graft.db.t")
      val preTrunc = cat.loadTable("db", "t").meta.lastSnapshotId
      s2.sql("TRUNCATE TABLE graft.db.t")
      assert(s2.sql("SELECT count(*) FROM graft.db.t").head().getLong(0) == 0)
      s2.sql(s"CALL graft.system.rollback_to_snapshot('db.t', $preTrunc)")
      assert(s2.sql("SELECT count(*) FROM graft.db.t").head().getLong(0) == 3)
      // branch-addressed DML: write-audit-publish entirely in SQL
      s2.sql("CALL graft.system.create_branch('db.t', 'audit')")
      s2.sql("INSERT INTO graft.db.`t@audit` VALUES (7, 'eve', 70, 'silver')")
      assert(s2.sql("SELECT count(*) FROM graft.db.t").head().getLong(0) == 3,
        "main must not see unpublished audit-branch writes")
      assert(s2.sql("SELECT count(*) FROM graft.db.`t@audit`").head().getLong(0) == 4)
      s2.sql("CALL graft.system.fast_forward('db.t', 'main', 'audit')")
      assert(s2.sql("SELECT count(*) FROM graft.db.t").head().getLong(0) == 4,
        "fast_forward must publish the audited branch to main")
      // DROP TABLE / NAMESPACE
      s2.sql("CREATE TABLE graft.db2.tmp (k BIGINT)")
      s2.sql("DROP NAMESPACE graft.db2 CASCADE")
      assert(!cat.listNamespaces().contains("db2"))
      s2.sql("DROP TABLE graft.db.t")
      assert(!cat.tableExists("db", "t"))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("SQL DML: INSERT / UPDATE / DELETE / MERGE through spark.sql") {
    import org.apache.spark.sql.SparkSession
    val wh = java.nio.file.Files.createTempDirectory("graft-dmlwh").toString
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      s2.conf.set("spark.graft.warehouse", wh)
      val cat = new graft.table.GraftCatalog(s2, wh)
      val t = cat.createTable("db", "kv", "k bigint, v string, amt double")
      import s2.implicits._
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("k", "v", "amt").createOrReplaceTempView("src")
      // INSERT ... SELECT (positional)
      s2.sql("INSERT INTO graft.db.kv SELECT * FROM src")
      assert(t.scan().count() == 3)
      // INSERT ... VALUES with a column list: amt defaults to NULL
      s2.sql("INSERT INTO graft.db.kv (k, v) VALUES (4, 'd')")
      assert(t.scan().filter(col("k") === 4 && col("amt").isNull).count() == 1)
      // UPDATE with alias-qualified references
      s2.sql("UPDATE graft.db.kv SET amt = amt * 2 WHERE v = 'a'")
      assert(t.scan().filter(col("k") === 1).head().getAs[Double]("amt") == 20.0)
      // DELETE honors the session write-mode conf (MoR leaves a delete file)
      s2.conf.set("spark.graft.write.mode", "merge-on-read")
      s2.sql("DELETE FROM graft.db.kv WHERE k = 2")
      s2.conf.unset("spark.graft.write.mode")
      assert(t.scan().count() == 3)
      assert(t.liveFiles().exists(_.fileType == "posdel"),
        "SQL DELETE under merge-on-read must write a position-delete file")
      // MERGE: update matched, insert unmatched, arbitrary aliases
      Seq((1L, "A", 111.0), (9L, "i", 90.0)).toDF("k", "v", "amt")
        .createOrReplaceTempView("updates")
      s2.sql("""MERGE INTO graft.db.kv tgt USING updates u ON tgt.k = u.k
                WHEN MATCHED THEN UPDATE SET v = u.v, amt = u.amt
                WHEN NOT MATCHED THEN INSERT (k, v, amt) VALUES (u.k, u.v, u.amt)""")
      val after = t.scan().orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.get(2))))
      assert(after.toSeq == Seq((1L, "A", Some(111.0)), (3L, "c", Some(30.0)),
        (4L, "d", None), (9L, "i", Some(90.0))))
      // MERGE with star actions
      Seq((3L, "C", 333.0)).toDF("k", "v", "amt").createOrReplaceTempView("star_src")
      s2.sql("""MERGE INTO graft.db.kv USING star_src s ON kv.k = s.k
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *""")
      assert(t.scan().filter(col("k") === 3).head().getAs[String]("v") == "C")
      // MERGE matched-delete
      s2.sql("""MERGE INTO graft.db.kv USING star_src s ON kv.k = s.k
                WHEN MATCHED THEN DELETE""")
      assert(t.scan().filter(col("k") === 3).count() == 0)
      // INSERT OVERWRITE atomically replaces contents (deletes included)
      s2.sql("INSERT OVERWRITE graft.db.kv SELECT * FROM src")
      assert(t.scan().count() == 3)
      assert(t.scan().orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      // unsupported shapes fail loudly, not silently
      intercept[UnsupportedOperationException] {
        s2.sql("""MERGE INTO graft.db.kv USING star_src s ON kv.k = s.k
                  WHEN MATCHED AND s.amt > 0 THEN DELETE""")
      }
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("SQL resolution: SELECT from graft.<ns>.<table> via extensions") {
    import org.apache.spark.sql.SparkSession
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlwh").toString
    // a session built WITH GraftExtensions (shares the SparkContext)
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      s2.conf.set("spark.graft.warehouse", wh)
      val cat = new graft.table.GraftCatalog(s2, wh)
      val t = cat.createTable("db1", "kv", "k bigint, v string")
      import s2.implicits._
      t.append(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "v"))
      t.delete("k = 2", graft.table.WriteMode.MergeOnRead)
      val rows = s2.sql(
        "SELECT v, count(*) AS n FROM graft.db1.kv GROUP BY v ORDER BY v")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.sameElements(Array(("a", 2L))),
        s"expected MoR delete visible through SQL, got ${rows.toList}")
      // native function registered by the same extensions
      assert(s2.sql("SELECT graft_bucket(4, k) AS b FROM graft.db1.kv").count() == 2)
      // metadata tables via SQL and the API
      val nFiles = s2.sql("SELECT * FROM graft.db1.`kv$files` WHERE file_type = 'data'").count()
      assert(nFiles == t.liveFiles().count(_.fileType == "data").toLong)
      assert(s2.sql("SELECT * FROM graft.db1.`kv$snapshots`").count() == 2) // append + delete
      assert(t.metaTable("refs").collect().map(_.getString(0)).contains("main"))
      // $manifests: append segment carried + one delete-file segment
      val segs = s2.sql("SELECT * FROM graft.db1.`kv$manifests`").collect()
      assert(segs.length == 2, s"expected 2 segments, got ${segs.length}")
      assert(segs.map(_.getLong(1)).sum == t.liveFiles().size.toLong)
      // metadata-only COUNT(*): with live delete files the scan answers...
      val slow = s2.sql("SELECT count(*) FROM graft.db1.kv")
      assert(slow.head().getLong(0) == 2)
      assert(slow.queryExecution.executedPlan.toString.contains("Scan parquet"),
        "delete files live: count must run through the scan")
      // ...after compaction (deletes applied), the manifests answer alone
      t.compact()
      val fast = s2.sql("SELECT count(*) AS n FROM graft.db1.kv")
      assert(fast.head().getLong(0) == 2)
      val plan = fast.queryExecution.executedPlan.toString
      assert(!plan.contains("Scan parquet") && plan.contains("Range"),
        s"metadata count must not scan data files:\n$plan")
      // count(col) / grouped counts are untouched by the rewrite
      assert(s2.sql("SELECT count(v) FROM graft.db1.kv").head().getLong(0) == 2)
      // SQL time travel: snapshot 1 predates the MoR delete
      assert(s2.sql("SELECT * FROM graft.db1.kv VERSION AS OF 1").count() == 3)
      assert(s2.sql("SELECT * FROM graft.db1.kv").count() == 2)
      val ts1 = new java.sql.Timestamp(t.meta.snapshot(1L).timestampMs).toString
      assert(s2.sql(s"SELECT * FROM graft.db1.kv TIMESTAMP AS OF '$ts1'").count() == 3)
      // branch reads through SQL: dev stays at the pre-delete snapshot
      t.createBranch("dev", at = Some(1L))
      assert(s2.sql("SELECT * FROM graft.db1.`kv@dev`").count() == 3)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("SQL-path reads prune the manifest like the DataFrame path") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.FileSourceScanExec
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlwh2").toString
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      s2.conf.set("spark.graft.warehouse", wh)
      val cat = new graft.table.GraftCatalog(s2, wh)
      val t = cat.createTable("db1", "pt", "k bigint, v string",
        partitionBy = Seq("bucket(8, k)"))
      import s2.implicits._
      t.append((0L until 64L).map(k => (k, s"v$k")).toDF("k", "v"))
      def scanFiles(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.executedPlan.collectLeaves().collect {
          case f: FileSourceScanExec => f.relation.location.inputFiles.length.toLong
        }.sum
      val sqlDf = s2.sql("SELECT v FROM graft.db1.pt WHERE k = 17")
      val apiPruned = t.prunedFiles("k = 17").size.toLong
      val total = t.liveFiles().count(_.fileType == "data").toLong
      assert(apiPruned < total, "bucket pruning must drop files")
      assert(scanFiles(sqlDf) == apiPruned,
        s"SQL path scans ${scanFiles(sqlDf)} files, API path prunes to $apiPruned")
      assert(sqlDf.collect().map(_.getString(0)).toSeq == Seq("v17"))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("SQL reads of a branch prune the manifest like head reads") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.FileSourceScanExec
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlwh3").toString
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      s2.conf.set("spark.graft.warehouse", wh)
      val cat = new graft.table.GraftCatalog(s2, wh)
      val t = cat.createTable("db1", "bt", "k bigint, v string",
        partitionBy = Seq("bucket(8, k)"))
      import s2.implicits._
      t.append((0L until 64L).map(k => (k, s"v$k")).toDF("k", "v"))
      t.createBranch("b")
      t.append((64L until 128L).map(k => (k, s"v$k")).toDF("k", "v"), branch = "b")
      // files in the relations the plan was built from (one
      // ManifestFileIndex per schema group)
      def plannedFiles(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.executedPlan.collectLeaves().collect {
          case f: FileSourceScanExec => f.relation.location.inputFiles.length.toLong
        }.sum
      val sqlDf = s2.sql("SELECT v FROM graft.db1.`bt@b` WHERE k = 17")
      val apiDf = t.scan(filter = Some("k = 17"), ref = Some("b"))
      val branchFiles = t.liveFiles("b").count(_.fileType == "data").toLong
      assert(plannedFiles(apiDf) < branchFiles, "bucket pruning must drop files")
      assert(plannedFiles(sqlDf) == plannedFiles(apiDf),
        s"SQL branch read plans ${plannedFiles(sqlDf)} of $branchFiles files, " +
          s"the API read ${plannedFiles(apiDf)}")
      assert(sqlDf.collect().map(_.getString(0)).toSeq == Seq("v17"))
      // the branch's own appends are planned, main's head is not
      assert(s2.sql("SELECT v FROM graft.db1.`bt@b` WHERE k = 81").collect()
        .map(_.getString(0)).toSeq == Seq("v81"))
      assert(s2.sql("SELECT v FROM graft.db1.bt WHERE k = 81").collect().isEmpty)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("frame sampling explodes payloads at the stride and keeps slice identity") {
    val rows = Multimodal.frameSample(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (_, fs) =>
      val idxs = fs.map(_.getLong(1)).sorted
      assert(idxs.head == 0 && idxs.forall(_ % Multimodal.FrameStride == 0))
    }
    // every frame md5 is the md5 of the corresponding payload slice length
    rows.foreach(r => assert(r.getString(3).length == 32))
  }

  test("nanosecond timestamps survive the graft round-trip below micro precision") {
    val (mismatched, nonzero) = V3Ops.nanoResidue(spark, sf)
    assert(mismatched == 0,
      s"$mismatched rows lost their planted sub-µs residue in the round-trip")
    assert(nonzero > 0,
      "no rows carried a sub-µs residue — the precision check is vacuous")
  }

  test("geo sphere: haversine predicate matches independent scala math") {
    // independent replication: recompute every order's great-circle
    // distance with java.lang.Math directly and re-derive the expected
    // id set; also proves the WKB round-trip feeds the predicate the
    // right coordinates (x↔lon, y↔lat swap would flip membership)
    val got = V3Ops.geoSphere(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.nonEmpty, "expected points within 1500 km of (0,0)")
    def hav(lat: Double, lon: Double): Double = {
      import java.lang.Math._
      val sLat = sin(toRadians(-lat) / 2); val sLon = sin(toRadians(-lon) / 2)
      2 * 6371.0 * asin(sqrt(
        sLat * sLat + cos(toRadians(lat)) * cos(toRadians(0.0)) * sLon * sLon))
    }
    val expected = Tables(spark, sf, "orders")
      .selectExpr("o_orderkey", "cast(o_orderkey % 360 - 180 as double) x",
        "cast(o_custkey % 180 - 90 as double) y").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .filter { case (_, x, y) => hav(y, x) < 1500.0 }.toSet
    assert(got.toSet == expected,
      s"got ${got.size} rows, expected ${expected.size}")
    // every selected point really is inside, with the designed margin
    got.foreach { case (id, x, y) =>
      assert(hav(y, x) < 1500.0 - 5.0, s"id=$id at (${x},${y}) rides the boundary")
    }
  }

  test("streaming sessionization matches the batch gaps-and-islands result") {
    val stream = StreamingOps.streamSessions(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Analytics.sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream == batch)
  }

  test("streaming ingest commits snapshots a batch reader can see") {
    val n = Tables(spark, sf, "events").count()
    val agg = StreamingOps.streamIngest(spark, sf).collect()
    assert(agg.map(_.getAs[Long]("n")).sum == n)
  }

  test("winnowing fingerprints: dup docs share, distinct docs mostly don't") {
    val docs = Tables(spark, sf01, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val fps = docs.map { case (id, t) => id -> TextOps.winnow(t).toSet }.toMap
    // winnowing guarantee: any shared substring of length >= k+w-1 (11)
    // yields at least one shared fingerprint
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val d1 = TextOps.winnow("prefix one " + shared + " suffix alpha").toSet
    val d2 = TextOps.winnow("other start " + shared + " different end").toSet
    assert(d1.intersect(d2).nonEmpty, "shared substring must share a fingerprint")
    // planted near-dups share a large fraction of fingerprints
    val near = Dedup.jaccardPairs(Tables(spark, sf01, "documents"), 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(near.nonEmpty)
    near.foreach { case (a, b) =>
      val (fa, fb) = (fps(a), fps(b))
      val overlap = fa.intersect(fb).size.toDouble / math.min(fa.size, fb.size)
      assert(overlap >= 0.5, s"near-dup pair ($a,$b) shares only $overlap")
    }
  }

  test("BMP codec: encode/decode round-trips pixels exactly (all padding classes)") {
    // widths 5..12 cover every 3w % 4 padding class; random pixel values
    // from a seeded generator; decode must return the exact pixel array
    val rnd = new scala.util.Random(42L)
    for (w <- 5 to 12; h <- Seq(1, 3, 7)) {
      val pixels = Array.fill(h, w)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val bmp = ImageCodec.encodeBmp(w, h, (x, y) => pixels(y)(x))
      // spec-correct container sizing: 54-byte headers + padded rows
      assert(bmp.length == 54 + ((3 * w + 3) / 4 * 4) * h, s"size w=$w h=$h")
      assert(bmp(0) == 'B' && bmp(1) == 'M')
      val (dw, dh, px) = ImageCodec.decodeBmp(bmp)
      assert(dw == w && dh == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(px(x, y) == pixels(y)(x), s"pixel ($x,$y) w=$w h=$h")
    }
    // malformed containers must refuse, not mis-decode
    intercept[IllegalArgumentException](ImageCodec.decodeBmp("JUNKJUNKJUNK".getBytes))
    val good = ImageCodec.encodeBmp(4, 4, (_, _) => (1, 2, 3))
    intercept[IllegalArgumentException](ImageCodec.decodeBmp(good.take(40)))
  }

  test("PNG codec: encode/decode round-trips pixels exactly (all filter classes)") {
    val rnd = new scala.util.Random(43L)
    // every single-filter image AND a mixed per-row schedule; widths and
    // heights vary so first-row/first-column special cases (no up, no
    // left) hit every filter's reconstruction
    val schedules: Seq[(String, Int => Int)] =
      (0 to 4).map(f => s"filter=$f" -> ((_: Int) => f)) :+
        ("mixed" -> ((y: Int) => y % 5))
    for ((label, filterOf) <- schedules; w <- Seq(1, 5, 12); h <- Seq(1, 4, 9)) {
      val pixels = Array.fill(h, w)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val png = ImageCodec.encodePng(w, h, filterOf, (x, y) => pixels(y)(x))
      val (dw, dh, px) = ImageCodec.decodePng(png)
      assert(dw == w && dh == h, s"$label w=$w h=$h")
      for (y <- 0 until h; x <- 0 until w)
        assert(px(x, y) == pixels(y)(x), s"pixel ($x,$y) $label w=$w h=$h")
    }
    // malformed containers must refuse, not mis-decode
    intercept[IllegalArgumentException](ImageCodec.decodePng("NOTAPNGNOTAPNG".getBytes))
    val good = ImageCodec.encodePng(4, 4, _ % 5, (_, _) => (1, 2, 3))
    intercept[IllegalArgumentException](ImageCodec.decodePng(good.take(40)))
    // a flipped payload byte breaks the chunk CRC: corruption is DETECTED,
    // never silently decoded (flip inside the IDAT data region)
    val corrupt = good.clone()
    corrupt(8 + 25 + 8 + 4) = (corrupt(8 + 25 + 8 + 4) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException](ImageCodec.decodePng(corrupt))
    assert(e.getMessage.contains("CRC"), e.getMessage)
  }

  test("multimodal metadata matches payload byte lengths") {
    val metas = Multimodal.multimodalMeta(spark, sf).collect()
    assert(metas.nonEmpty)
    val lens = Tables(spark, sf, "documents")
      .select(col("doc_id"), length(encode(col("text"), "UTF-8")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    metas.foreach(r => assert(r.getAs[Long]("n_bytes") == lens(r.getAs[Long]("doc_id"))))
  }

  test("star-contraction CC equals union-find on adversarial graph shapes") {
    // the DISTRIBUTED path (bypassing the small-graph fast path): a long
    // path (diameter 300 — label propagation would need ~150 rounds, the
    // star loop must finish within the 20-round cap), a clique, disjoint
    // components, and seeded random graphs
    import spark.implicits._
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
    }
    val rnd = new scala.util.Random(7L)
    val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
      "path-300" -> (1L to 299L).map(i => (i, i + 1)),
      "clique-20" -> (for (i <- 1L to 20L; j <- (i + 1) to 20L) yield (i, j)),
      "two-comps" -> (Seq((1L, 2L), (2L, 3L)) ++ Seq((10L, 11L), (11L, 12L))),
      "random-200" -> Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
        .filter(e => e._1 != e._2))
    graphs.foreach { case (name, edges) =>
      val df = edges.toDF("u", "v")
      val got = CorpusGraph.starContract(df, maxIters = 20).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(edges), s"graph $name")
    }
  }

  test("driver union-find survives a deep chain in adversarial (descending) edge order") {
    // a chain component collected in DESCENDING id order builds the
    // deepest possible parent chain under union-by-min: (n-1,n), (n-2,n-1),
    // ... each union links the new max root under a min that is itself a
    // chain tail. A recursive find() recurses to component depth and
    // overflows the driver stack around ~10^4; the iterative
    // walk-then-compress implementation must handle 10^5 without growing
    // the stack. Exercises the fast path via an explicit bound.
    import spark.implicits._
    val n = 100000L
    val edges = (n - 1 to 1L by -1).map(i => (i, i + 1))
    val rep = CorpusGraph.connectedComponents(
        edges.toDF("a_id", "b_id"), localEdgeBound = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rep.length == n)
    assert(rep.forall(_._2 == 1L), "every chain vertex must elect rep 1")
  }

  test("CC boundary: distributed star path activates above the local-edge bound") {
    // same graph through both paths at the boundary: bound just ABOVE the
    // edge count -> driver union-find; bound just BELOW -> star
    // contraction. Identical (v, rep) partitions required.
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val edges = (Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(e => e._1 != e._2) ++ (500L until 520L).map(i => (i, i + 1))).distinct
    val df = edges.toDF("a_id", "b_id")
    val m = edges.size.toLong
    val viaDriver = CorpusGraph.connectedComponents(df, localEdgeBound = m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStars = CorpusGraph.connectedComponents(df, localEdgeBound = m - 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaStars, "both CC paths must agree at the boundary")
  }

  test("semantic clusters: union-find replay over the mutual kNN edges") {
    // independent clustering: collect the kNN edges, symmetrize with the
    // same mutual rule, run plain union-find — the distributed min-label
    // loop must land on the identical partition
    val knn = Similarity.knnJoin(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val mutual = knn.filter { case (a, b) => a < b && knn((b, a)) }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = mutual.flatMap(e => Seq(e._1, e._2))
    val expect = members.groupBy(find).flatMap { case (rep, vs) =>
      vs.map(v => v -> (rep, vs.size.toLong)) }
    val got = Similarity.semanticClusters(spark, sf01).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
    assert(expect.nonEmpty, "sf0.01 must produce at least one mutual-kNN cluster")
  }

  test("ohlc bars: open/close are the tie-broken first/last observations") {
    val ev = Tables(spark, sf01, "events")
      .select("event_type", "event_id", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val byBar = ev.groupBy { case (t, _, ts, _) =>
      (t, ts.toInstant.truncatedTo(java.time.temporal.ChronoUnit.DAYS)) }
    val got = TimeSeries.ohlc(spark, sf01).collect()
    assert(got.length == byBar.size)
    got.foreach { r =>
      val key = (r.getString(0), r.getTimestamp(1).toInstant
        .truncatedTo(java.time.temporal.ChronoUnit.DAYS))
      val rows = byBar(key).sortBy { case (_, id, ts, _) => (ts.getTime, id) }
      assert(r.getDouble(2) == rows.head._4, s"open mismatch for $key")
      assert(r.getDouble(5) == rows.last._4, s"close mismatch for $key")
      assert(r.getDouble(3) == rows.map(_._4).max &&
        r.getDouble(4) == rows.map(_._4).min)
      assert(r.getLong(6) == rows.length.toLong)
    }
  }

  test("time-weighted average: integer replay of the step-function integral") {
    val ev = Tables(spark, sf01, "events")
      .select("user_id", "event_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).toInstant.getEpochSecond * 1000000L +
          r.getTimestamp(2).toInstant.getNano / 1000L, r.getDouble(3)))
    val expect = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val s = rows.sortBy { case (_, id, us, _) => (us, id) }
      val holds = s.zip(s.tail).map { case ((_, _, a, v), (_, _, b, _)) =>
        (b - a, BigInt(math.floor(v * 1000.0 + 0.5).toLong) * BigInt(b - a))
      }
      val heldUs = holds.map(_._1).sum
      if (heldUs > 0)
        Some(u -> (holds.length.toLong, heldUs / 1000000L,
          (holds.map(_._2).sum / BigInt(heldUs)).toLong))
      else None
    }
    val got = TimeSeries.timeWeighted(spark, sf01).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expect)
  }

  test("knn join: full coverage and recall vs exact brute force") {
    // exact top-K per vector via a plain-Scala O(N²) pass (independent
    // of every Spark expression in the operator), then recall of the
    // IVF-blocked join against it. Embeddings here are near-isotropic —
    // the hardest case for IVF — so the pinned floor (0.40) sits under
    // the deterministic measured value (~0.58 at 6 probes / 32 lists)
    // with margin for a testdata regeneration; random-3-of-N would be
    // ~0.006, so the floor still proves the blocking works.
    val vecs = Tables(spark, sf01, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(v.map(x => x * x).sum) }.toMap
    def cos(a: Array[Double], b: Array[Double], na: Double, nb: Double): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s / (na * nb)
    }
    val exact = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .map { case (oid, ov) => oid -> cos(v, ov, nrm(id), nrm(oid)) }
        .sortBy { case (oid, c) => (-c, oid) }.take(Similarity.KnnK).map(_._1).toSet
    }.toMap
    val got = Similarity.knnJoin(spark, sf01).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    assert(got.keySet == exact.keySet, "every vector must receive neighbors")
    assert(got.values.forall(_.size == Similarity.KnnK))
    val recall = exact.map { case (q, t) =>
      got(q).intersect(t).size.toDouble / Similarity.KnnK }.sum / exact.size
    assert(recall >= 0.40, s"kNN-graph recall $recall below floor")
  }

  test("embed pca: integer power iteration is exact and converged") {
    // Independent replay: plain-Scala quantize -> second-moment -> BigInt
    // power iteration (no Spark expressions shared with the operator),
    // then assert (a) bit-exact projection equality and (b) convergence —
    // 100 extra iterations must improve the Rayleigh quotient by < 0.1%
    // (on a near-isotropic spectrum an under-iterated direction would
    // still be climbing).
    val vecs = Tables(spark, sf01, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val dim = vecs.head._2.length
    val q = vecs.map { case (id, e) =>
      id -> e.map(x => BigInt(math.floor(x.toDouble * Similarity.PcaQuantScale).toLong))
    }
    val mat = Array.ofDim[BigInt](dim, dim)
    for (i <- 0 until dim; j <- 0 until dim)
      mat(i)(j) = q.map { case (_, v) => v(i) * v(j) }.sum
    def iterate(x0: Array[BigInt], n: Int): Array[BigInt] = {
      var x = x0
      for (_ <- 1 to n) {
        val y = Array.tabulate(dim)(i => (0 until dim).map(j => mat(i)(j) * x(j)).sum)
        val m = y.map(_.abs).max
        x = y.map(v => v * Similarity.PcaDirScale / m)
      }
      x
    }
    val d = iterate(Array.fill(dim)(BigInt(Similarity.PcaDirScale)), Similarity.PcaIters)
    val expect = q.map { case (id, v) =>
      id -> (0 until dim).map(i => v(i) * d(i)).sum.toLong }.toMap
    val got = Similarity.embedPca(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expect)
    def rayleigh(x: Array[BigInt]): Double = {
      val cx = Array.tabulate(dim)(i => (0 until dim).map(j => mat(i)(j) * x(j)).sum)
      val num = (0 until dim).map(i => (x(i) * cx(i)).doubleValue).sum
      val den = (0 until dim).map(i => (x(i) * x(i)).doubleValue).sum
      num / den
    }
    val rqNow = rayleigh(d)
    val rqMore = rayleigh(iterate(d, 100))
    assert(rqMore <= rqNow * 1.001, s"direction still climbing: $rqNow -> $rqMore")
  }

  test("url filter: canonicalization + suffix blocklist match a scala replay") {
    // Independent replay of the URL synthesis + canonicalization in plain
    // Scala (no regex shared with the operator), then the same per-host
    // rollup — pins host-lowering, www-stripping, query-stripping, and
    // suffix-aware blocklist semantics.
    val docs = Tables(spark, sf01, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def canon(id: Long, src: String): (String, String, Boolean) = {
      val hostRaw = if (id % 3 == 0) s"WWW.${src.toUpperCase}.Example.COM"
                    else s"$src.example.com"
      val host0 = hostRaw.toLowerCase
      val host = if (host0.startsWith("www.")) host0.drop(4) else host0
      (host, s"/article-${id % 7}", id % 5 == 0)
    }
    def blocked(host: String): Boolean = UrlOps.BlockedDomains
      .exists(d => host == d || host.endsWith("." + d))
    val expect = docs.map { case (id, src) => canon(id, src) }
      .groupBy(_._1).map { case (h, rows) =>
        h -> (rows.length.toLong,
          if (blocked(h)) 0L else rows.length.toLong,
          rows.count(_._3).toLong)
      }
    val got = UrlOps.urlFilter(spark, sf01).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expect)
    assert(expect.exists(_._2._2 == 0L), "blocklist must actually fire")
    assert(expect.exists(kv => kv._2._2 == kv._2._1), "unlisted hosts must survive")
  }

  test("url canonicalization: randomized urls match a reference normalizer") {
    // 400 seeded random URLs over scheme case x www x host case x path
    // depth x query/fragment x NO-PATH — each canonicalized by the Spark
    // chain and by an independent plain-Scala normalizer
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    def seg(): String = (1 to (1 + rnd.nextInt(6)))
      .map(_ => "abcXYZ059-_".charAt(rnd.nextInt(11))).mkString
    val cases = (1 to 400).map { i =>
      val scheme = Seq("http://", "https://", "HTTP://", "HttpS://")(rnd.nextInt(4))
      val www = Seq("", "www.", "WWW.", "wWw.")(rnd.nextInt(4))
      val host = (1 to (2 + rnd.nextInt(2))).map(_ => seg()).mkString(".")
      val path = rnd.nextInt(4) match {
        case 0 => "" // no path at all
        case d => (1 to d).map(_ => seg()).mkString("/", "/", "")
      }
      val tail = rnd.nextInt(4) match {
        case 0 => ""
        case 1 => "?utm_source=" + seg()
        case 2 => "?" + seg() + "=" + seg() + "#" + seg()
        case _ => "#" + seg()
      }
      (i.toLong, scheme + www + host + path + tail)
    } ++ Seq(
      // falsifiers for the tracked flag's query-string-only contract:
      // "utm_" in a host or path segment is NOT a tracking param
      (1001L, "https://utm_tracker.example.com/a"),
      (1002L, "http://a.example.com/utm_docs/page"),
      (1003L, "https://a.example.com/utm_docs?x=1"),
      (1004L, "https://a.example.com/p?ref=1&utm_medium=x"),
      (1005L, "HTTP://WWW.B.example.com/p#utm_fragment"))
    def refCanon(url: String): (String, String, Long) = {
      val ns0 = url.replaceFirst("(?i)^https?://", "")
      val ns = if (!ns0.contains("/")) ns0 + "/" else ns0
      val slash = ns.indexOf('/')
      val host0 = ns.substring(0, slash).toLowerCase
      val host = if (host0.startsWith("www.")) host0.drop(4) else host0
      val path = ns.substring(slash).replaceAll("[?#].*$", "")
      val q = ns.indexOf('?')
      (host, path, if (q >= 0 && ns.substring(q).contains("utm_")) 1L else 0L)
    }
    val df = cases.toDF("id", "u")
    val got = UrlOps.withCanonicalUrl(df, col("u"))
      .select("id", "host", "path", "tracked").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
    cases.foreach { case (id, url) =>
      assert(got(id) == refCanon(url), s"url $url")
    }
  }

  test("url dedup: first-wins per canonical URL, variants unify, dups exist") {
    val removed = UrlOps.dedupUrl(spark, sf01).collect()
    assert(removed.nonEmpty, "sf0.01 must contain canonical-URL duplicates")
    // every (host, path) group: exactly one survivor = the min doc_id,
    // and each removed row names that survivor
    val all = Tables(spark, sf01, "documents").select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val groups = all.groupBy { case (id, src) =>
      (s"$src.example.com", s"/article-${id % 7}") }
    removed.foreach { r =>
      val key = (r.getString(1), r.getString(2))
      val ids = groups(key).map(_._1)
      assert(r.getLong(3) == ids.min, s"representative must be min doc_id for $key")
      assert(r.getLong(0) > ids.min)
    }
    val expectedRemoved = groups.values.map(_.size - 1).sum
    assert(removed.length == expectedRemoved,
      s"every non-representative is removed exactly once: ${removed.length} vs $expectedRemoved")
  }
}
