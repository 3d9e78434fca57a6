package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query MEDIAN seconds plus a
  * machine-readable vs-floor verdict against BASELINE.md.
  *
  * Sampling is ROUND-INTERLEAVED and STEAL-AWARE. Each round runs the
  * WHOLE suite once (round 1: q1..qN, round 2: q1..qN, ...) instead of
  * taking a query's samples back-to-back: the VM shows ±40% CPU-steal
  * bursts lasting seconds-to-minutes, and back-to-back samples let one
  * burst poison all of a query's samples, while interleaving spreads a
  * burst across at most one sample of many queries. Each round is
  * BRACKETED by machine-speed canary samples (one before, one after);
  * a round whose worse bracket reads above `clean_threshold` × the
  * committed canary floor measured the VM, not the engine, and its
  * samples are DROPPED from the medians. Rounds keep running (bounded
  * by SPARK_GRAFT_MAX_ROUNDS) until `SPARK_GRAFT_CLEAN_ROUNDS` clean
  * rounds exist — rounds 5 and 6 both ran entirely inside 5×-steal
  * windows, so a fixed 3-round run can end with nothing trustworthy;
  * the bounded retry is what finally grounds a verdict in clean
  * windows when the VM offers any. If NO round is clean the medians
  * fall back to all samples (a fully-stolen window still measures
  * something; the canary-normalized verdict then carries the
  * adjudication) and the JSON says so via per-round provenance. */
object Bench {
  /** per-query floor = best historical column in BASELINE.md's table
    * (the repo's committed comparison protocol). Tolerant parse: rows
    * look like `| q_name | 1.06 | — | 0.59 | 0.42 |`. */
  def floors(path: String = "BASELINE.md"): Map[String, Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) return Map.empty
    scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.lines(p).iterator()).asScala
      .flatMap { line =>
        val cells = line.split("\\|").map(_.trim)
        if (cells.length >= 3 && cells(1).startsWith("q")) {
          val ts = cells.drop(2).flatMap(_.toDoubleOption).filter(_ > 0)
          if (ts.nonEmpty) Some(cells(1) -> ts.min) else None
        } else None
      }.toMap
  }

  /** Canary floor from BASELINE.md. Whitespace-tolerant: round 5's
    * `"canary floor: N s"` regex silently found nothing because the
    * phrase was line-wrapped (`canary\nfloor:`) — the headline
    * normalized verdict never fired and nobody noticed. Tolerate any
    * whitespace (incl. newlines) between the words and around the
    * number; BenchParseSpec pins this against the committed file. The
    * LAST match wins, like every floor: a later round may append a
    * refreshed phrase without editing history. */
  def canaryFloor(path: String = "BASELINE.md"): Option[Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) None
    else "(?s)canary\\s+floor:\\s*([0-9.]+)\\s*s".r
      .findAllMatchIn(java.nio.file.Files.readString(p)).toSeq.lastOption
      .map(_.group(1).toDouble)
  }

  /** Scheduling-canary floor (`sched floor: N s` in BASELINE.md) — the
    * committed quiet-window task-dispatch latency at local[32]. Same
    * whitespace tolerance as [[canaryFloor]]; BenchParseSpec pins it. */
  def schedFloor(path: String = "BASELINE.md"): Option[Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) None
    else "(?s)sched\\s+floor:\\s*([0-9.]+)\\s*s".r
      .findAllMatchIn(java.nio.file.Files.readString(p)).toSeq.lastOption
      .map(_.group(1).toDouble)
  }

  /** I/O-canary floor (`io floor: N s` in BASELINE.md) — the committed
    * quiet-window parquet write+read round-trip at local[32]. */
  def ioFloor(path: String = "BASELINE.md"): Option[Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) None
    else "(?s)io\\s+floor:\\s*([0-9.]+)\\s*s".r
      .findAllMatchIn(java.nio.file.Files.readString(p)).toSeq.lastOption
      .map(_.group(1).toDouble)
  }

  /** Committed aging-slope bound (`aging threshold: N` in BASELINE.md):
    * the maximum allowed ratio of the LAST kept round's suite wall to
    * the FIRST kept round's. The round-10/11 streaming regressions
    * (catalog-pinned memory sinks; a per-checkpoint-rename process fork
    * whose cost scales with JVM mapped memory) both presented as a
    * monotone round-over-round wall climb inside one bench JVM — a
    * failure class three rounds of flags circled before a dedicated
    * harness isolated it. This makes the slope a committed,
    * machine-checkable number per run instead of a post-hoc diagnosis. */
  def agingThreshold(path: String = "BASELINE.md"): Option[Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) None
    else "(?s)aging\\s+threshold:\\s*([0-9.]+)".r
      .findAllMatchIn(java.nio.file.Files.readString(p)).toSeq.lastOption
      .map(_.group(1).toDouble)
  }

  /** Floor CLASSES from BASELINE.md: queries whose committed floor does
    * not measure the engine alone — e.g. the `subprocess` class, whose
    * floors are dominated by python-interpreter startup (three-process
    * queries by construction), so a 2x ratio on a loaded machine flags
    * the OS fork path, not a regression. Parsed from lines shaped
    * `floor class <name> (tolerance <N>x): q_a q_b ...`; such queries
    * are reported under `floor_classes` in the JSON and flagged only
    * above their class tolerance, instead of the default 2x rule.
    * Later definitions of the same class override earlier ones (the
    * floors' refresh semantics). Returns class -> (tolerance, keys). */
  def floorClasses(path: String = "BASELINE.md"): Map[String, (Double, Set[String])] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) return Map.empty
    // keys must match the committed registry shape q[digits]*_<word> —
    // a looser q\w+ once let any q-prefixed PROSE word on the same line
    // ("queries", "q.v." neighbors) silently join the class (ADVICE r14)
    ("(?s)floor\\s+class\\s+([A-Za-z0-9_-]+)\\s*\\(tolerance\\s+([0-9.]+)x?\\)" +
      "\\s*:\\s*((?:q[a-z0-9]*_[a-z0-9_]+[ \\t,]*)+)").r
      .findAllMatchIn(java.nio.file.Files.readString(p)).map { m =>
        m.group(1) -> ((m.group(2).toDouble,
          m.group(3).split("[ \\t,]+").filter(_.nonEmpty).toSet))
      }.toMap
  }

  /** Strict io-clean multiple for IO-BOUND queries (`io clean
    * threshold: N` in BASELINE.md, last match wins — the floors'
    * refresh semantics). The default recheck io gate (2.0x) exists to
    * catch grossly stolen disk; a WRITE-HEAVY query needs a tighter
    * bar, because its wall is mostly the disk term: round 13's driver
    * recheck read io 1.5-1.7x the 0.33 s io floor, passed the loose
    * gate, and published a confirmed-looking 2.19x flag on
    * q_overwrite_partitions that the window could not actually rule. */
  def ioCleanStrict(path: String = "BASELINE.md"): Option[Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) None
    else "(?s)io\\s+clean\\s+threshold:\\s*([0-9.]+)".r
      .findAllMatchIn(java.nio.file.Files.readString(p)).toSeq.lastOption
      .map(_.group(1).toDouble)
  }

  /** IO-BOUND query keys (`io-bound queries: q_a q_b ...` in
    * BASELINE.md, last match wins): queries whose committed floor is
    * dominated by parquet DATA writes (full-table appends, CoW
    * rewrites, compaction), so a window is only adjudicable for them
    * when the io canary was quiet under [[ioCleanStrict]] — the CPU
    * canary provably cannot see the disk term (round-8 evidence). */
  def ioBoundKeys(path: String = "BASELINE.md"): Set[String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) return Set.empty
    // same committed q[digits]*_<word> key shape as [[floorClasses]]:
    // trailing same-line prose can never join the list (ADVICE r14)
    "(?s)io-bound\\s+queries\\s*:\\s*((?:q[a-z0-9]*_[a-z0-9_]+[ \\t,]*)+)".r
      .findAllMatchIn(java.nio.file.Files.readString(p)).toSeq.lastOption
      .map(_.group(1).split("[ \\t,]+").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
  }

  /** Is an io bracket clean under `thresh` x the committed io floor?
    * No committed floor -> the dimension cannot be judged and passes
    * (same rule as [[cleanFlags]]). */
  def ioBracketClean(io: Bracket, floor: Option[Double],
      thresh: Double): Boolean =
    floor.filter(_ > 0).forall(f => io.worst / f < thresh)

  /** Per-KEY recheck dirtiness under the two-canary rule (pure; pinned
    * by BenchSampleSpec): a key's isolated measurement is evidence only
    * if the attempt passed the base gate ([[recheckAttemptClean]]) AND,
    * for an io-bound key, the io bracket also sat under the STRICT
    * multiple — otherwise `window_dirty` stays true for that key even
    * though a CPU-bound key measured in the same attempt adjudicates
    * fine. This is the round-13 blind spot: a write-heavy flag must
    * never be confirmed or cleared by a window that only proved the
    * CPU idle. */
  def recheckKeyDirty(baseClean: Boolean, ioBound: Boolean, io: Bracket,
      ioFloor: Option[Double], strictThresh: Double): Boolean =
    !baseClean || (ioBound && !ioBracketClean(io, ioFloor, strictThresh))

  /** Attempt-level settledness for the retry loop: retry while any
    * measured key would still be dirty — i.e. the base gate failed, or
    * an io-bound key is in the recheck set and the strict io bar was
    * missed. Pure; pinned by BenchSampleSpec. */
  def recheckAttemptSettled(baseClean: Boolean, anyIoBound: Boolean,
      io: Bracket, ioFloor: Option[Double], strictThresh: Double): Boolean =
    baseClean && (!anyIoBound || ioBracketClean(io, ioFloor, strictThresh))

  /** Aging slope over kept rounds: last kept round's suite wall divided
    * by the first kept round's. Kept rounds only — steal-gated windows,
    * so the ratio measures the JVM, not the VM; None with fewer than two
    * kept rounds (no slope to speak of). Pinned by BenchSampleSpec. */
  def agingRatio(roundWalls: Seq[Double], kept: Seq[Boolean]): Option[Double] = {
    val kw = roundWalls.zip(kept).collect { case (w, true) if w > 0 => w }
    if (kw.size >= 2) Some(kw.last / kw.head) else None
  }

  /** one isolated-recheck verdict, as published in both the full JSON and
    * the summary line: the key's isolated seconds, its vs-floor ratio,
    * whether the strict io-bound bar applied, and whether the measuring
    * window was too dirty to rule ([[recheckKeyDirty]]) */
  final case class RecheckVerdict(key: String, sec: Double,
      ratio: Option[Double], ioBound: Boolean, windowDirty: Boolean)

  /** flags beyond this many entries drop from the summary line (worst
    * kept), so a globally dirty window (every query flagged) can never
    * push the line past the driver's 2000-char output tail; the *_count
    * fields always carry the true totals */
  val SummaryFlagCap = 6

  /** Compact ONE-LINE summary emitted as Bench's FINAL stdout line
    * (round 15): the driver archives only the last ~2000 chars of the
    * bench output, and the full detail line (226 per-query medians)
    * overflows that — BENCH_r13/r14 landed with `parsed: null` and the
    * headline total/median/normalized numbers cut off, surviving only in
    * BASELINE.md prose. This line carries every adjudicable number —
    * total, raw + normalized vs-floor medians, the three canary ratios,
    * kept-round provenance, aging, capped flag lists with true counts,
    * and the FULL recheck verdicts (at most 12 keys by construction).
    * Format pinned by BenchParseSpec. */
  def summaryLine(total: Double, medianRatio: Option[Double],
      normMedian: Option[Double], canaryRatio: Option[Double],
      ioRatio: Option[Double], schedRatio: Option[Double],
      roundsKept: Int, roundsTotal: Int,
      agingRatio: Option[Double], agingExceeded: Option[Boolean],
      flagged: Seq[(String, Double)], flaggedNorm: Seq[(String, Double)],
      recheck: Seq[RecheckVerdict]): String = {
    def num3(o: Option[Double]) = o.map(v => f"$v%.3f").getOrElse("null")
    def num2(o: Option[Double]) = o.map(v => f"$v%.2f").getOrElse("null")
    def fmap(xs: Seq[(String, Double)]) = xs.sortBy(-_._2).take(SummaryFlagCap)
      .map { case (k, r) => "\"" + k + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    val rj = recheck.map { v =>
      s"""\"${v.key}\":{"sec":${f"${v.sec}%.3f"},"ratio":${num2(v.ratio)},""" +
        s""""io_bound":${v.ioBound},"window_dirty":${v.windowDirty}}"""
    }.mkString("{", ",", "}")
    s"""{"summary":{"total":${f"$total%.2f"},"median_ratio":${num3(medianRatio)},""" +
      s""""median_ratio_normalized":${num3(normMedian)},""" +
      s""""canary_ratio":${num2(canaryRatio)},"io_ratio":${num2(ioRatio)},""" +
      s""""sched_ratio":${num2(schedRatio)},""" +
      s""""rounds_kept":$roundsKept,"rounds_total":$roundsTotal,""" +
      s""""aging_ratio":${num3(agingRatio)},""" +
      s""""aging_exceeded":${agingExceeded.map(_.toString).getOrElse("null")},""" +
      s""""flagged_count":${flagged.size},"flagged":${fmap(flagged)},""" +
      s""""flagged_normalized_count":${flaggedNorm.size},""" +
      s""""flagged_normalized":${fmap(flaggedNorm)},"recheck":$rj}}"""
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // --- steal-aware sample selection (pure; pinned by BenchSampleSpec) -------
  /** one bracket per round: canary seconds before and after the round */
  final case class Bracket(pre: Double, post: Double) {
    def worst: Double = math.max(pre, post)
  }

  /** Is each round clean — i.e. did BOTH its bracketing canaries run
    * below `thresh` × the committed canary floor? With no floor (fresh
    * checkout) nothing can be judged, so every round counts as clean. */
  def cleanFlags(brackets: Seq[Bracket], floor: Option[Double],
      thresh: Double): Seq[Boolean] = floor match {
    case Some(f) if f > 0 => brackets.map(_.worst / f < thresh)
    case _ => brackets.map(_ => true)
  }

  /** The recheck instrument's own keep rule (pure; pinned by
    * BenchSampleSpec): an isolated re-run of a flagged query counts only
    * when the attempt's OWN brackets are clean — the CPU bracket under
    * the suite's kept-round rule AND both I/O bracket samples under
    * `ioThresh` × the committed io floor (write-path queries are only
    * adjudicable when the disk term was quiet too). No committed floor
    * on a dimension → that dimension cannot be judged and passes, same
    * as [[cleanFlags]]. Round 9 published an 11 s recheck sample inside
    * a 2.4×-canary bracket with no verdict — exactly the ambiguity this
    * rule removes: such an attempt now retries, and a query never
    * measured in a clean attempt is published `window_dirty: true`. */
  def recheckAttemptClean(bracket: Bracket, gateFloor: Option[Double],
      cleanThresh: Double, io: Bracket, ioFloor: Option[Double],
      ioThresh: Double): Boolean =
    cleanFlags(Seq(bracket), gateFloor, cleanThresh).head &&
      ioFloor.filter(_ > 0).forall(f => io.worst / f < ioThresh)

  /** Settle pause before retry attempt `attempt` (1-based count of
    * attempts already made): exponential doubling from `baseMs`, capped
    * at `capMs`. The round-12 driver run proved a FIXED 5 s pause is the
    * wrong instrument: all three recheck attempts landed inside one
    * multi-minute steal window (canary_post up to 12x floor), publishing
    * every number `window_dirty: true` — 3 attempts x 5 s can never
    * outwait a burst that lasts minutes. Doubling waits (default
    * 10 s, 20 s, 40 s, 80 s... capped 120 s) outwait a multi-minute
    * window inside the same attempt budget. Pinned by BenchSampleSpec. */
  def backoffMs(attempt: Int, baseMs: Long, capMs: Long): Long = {
    val shift = math.min(attempt - 1, 20).max(0) // bounded: no Long overflow
    math.min(capMs, baseMs << shift).max(0L)
  }

  /** The recheck retry loop, pure apart from the injected effects: run
    * `attempt` until one reports clean or `maxAttempts` is spent,
    * sleeping [[backoffMs]] before every retry (never before the first
    * attempt — in a clean window the recheck costs exactly one pass).
    * Returns every attempt's result in order; the caller publishes the
    * LAST measurement per key and `window_dirty` from the final
    * attempt's cleanliness. Pinned by BenchSampleSpec with a synthetic
    * multi-minute steal window that the default schedule outwaits. */
  def retryUntilClean[A](maxAttempts: Int, baseMs: Long, capMs: Long,
      sleep: Long => Unit, attempt: Int => (A, Boolean)): Vector[(A, Boolean)] = {
    val out = Vector.newBuilder[(A, Boolean)]
    var i = 0
    var clean = false
    while (!clean && i < maxAttempts) {
      if (i > 0) sleep(backoffMs(i, baseMs, capMs))
      val r = attempt(i)
      out += r
      clean = r._2
      i += 1
    }
    out.result()
  }

  /** Rounds whose samples feed the medians: the clean rounds, unless
    * NONE are clean — then all rounds (an all-stolen run still has to
    * report medians; the normalized verdict adjudicates them). */
  def keptRounds(brackets: Seq[Bracket], floor: Option[Double],
      thresh: Double): Seq[Boolean] = {
    val clean = cleanFlags(brackets, floor, thresh)
    if (clean.contains(true)) clean else brackets.map(_ => true)
  }

  /** Samples to median over for one query: the round-aligned main
    * samples filtered to kept rounds, plus the tail re-run samples when
    * the tail window itself was clean. `main` and `kept` are aligned by
    * round index. */
  def selectSamples(main: Vector[Double], kept: Seq[Boolean],
      tail: Vector[Double], tailKept: Boolean): Vector[Double] = {
    val m = main.zip(kept).collect { case (s, true) => s }
    if (tailKept) m ++ tail else m
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    // bounded retry budget: keep adding rounds (up to maxRounds total)
    // until cleanTarget rounds have clean brackets
    val maxRounds = sys.env.getOrElse("SPARK_GRAFT_MAX_ROUNDS", "7").toInt.max(runs)
    val cleanTarget = sys.env.getOrElse("SPARK_GRAFT_CLEAN_ROUNDS", "3").toInt
    val cleanThresh = sys.env.getOrElse("SPARK_GRAFT_CANARY_CLEAN", "2.0").toDouble
    val spark = Tables.SessionConfs.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen/parquet-reader paths so the first timed query
    // doesn't absorb fixed startup cost
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try SparkEntry.queries.get("q06_forecast_revenue").foreach(_(spark, sfDir).count())
    catch { case _: Throwable => }
    // SPARK_GRAFT_ONLY="q_a,q_b" restricts the run for isolated timing
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { sel =>
      val unknown = sel -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] SPARK_GRAFT_ONLY names unknown queries: " +
          unknown.mkString(", "))
    }
    val picked = only
      .map(sel => SparkEntry.queries.filter { case (k, _) => sel(k) })
      .getOrElse(SparkEntry.queries)
    // machine-speed canary: a fixed engine-independent workload (range
    // sum through whole-stage codegen). Its ratio vs the committed
    // clean-window floor (BASELINE.md, `canary floor:`) tells the READER
    // whether a window measured the VM or the engine — and tells THIS
    // HARNESS which rounds to drop.
    def canarySample(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // the first canary execution compiles its codegen (~0.3-4 s cold);
    // warm it once so bracket samples measure the machine, not the JIT
    canarySample()
    // a canary taken IMMEDIATELY after suite work reads systematically
    // high (observed: 0.34-0.6 s posts with 0.09-0.2 s pres microseconds
    // later — one-time post-round GC/cache effects, not steal). The
    // bracket must measure the MACHINE, so discard one re-warming run
    // before every post-work bracket sample.
    def warmedCanary(): Double = { canarySample(); canarySample() }
    // SCHEDULING canary: a three-stage job over trivial data — measures
    // task-dispatch + shuffle round-trip latency, the machine term the
    // CPU canary cannot see (one fat stage hides dispatch entirely).
    // Sub-second queries are dominated by this additive per-stage
    // latency, not by compute: a jittery-scheduler window inflates a
    // 0.1 s query 3x while the CPU canary still reads clean (observed
    // exactly that shape — kept-round CPU canary 1.31x floor with every
    // short query at ~2-2.5x and multi-second write-path queries at
    // ~1.1-1.4x). Emitted as provenance only; the clean gate stays on
    // the CPU canary until a quiet-window floor exists for this one.
    def schedCanary(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 1024, 1, 8).repartition(cpus.toInt)
        .repartition(7).count()
      (System.nanoTime() - t0) / 1e9
    }
    schedCanary() // warm its codegen/plan once, same as the CPU canary
    // I/O canary: a small parquet write+read round-trip — the THIRD
    // machine dimension, which neither the CPU canary (one codegen
    // stage, no disk) nor the sched canary (trivial data) can see.
    // Observed round 8: a ~30-minute window where every disk-write-heavy
    // query (streaming state stores, partitioned writes, catalogs) read
    // 2-3x its floor while the CPU canary sat at 1.13x and sched at
    // 0.87x; an isolated re-check minutes later read all of them at
    // ~1x. When io_ratio is high, write-path raw flags measured the
    // disk, not the engine — adjudicate them by isolated re-check.
    def ioCanary(): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft-iocanary")
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, 8)
        .selectExpr("id", "id * 7 as v")
        // the committed io floor was measured with snappy data files;
        // the round-16 zstd session default must not move the CANARY —
        // the instrument keeps its floor-era codec explicitly
        .write.mode("overwrite").option("compression", "snappy")
        .parquet(s"$dir/p")
      spark.read.parquet(s"$dir/p").count()
      val secs = (System.nanoTime() - t0) / 1e9
      graft.table.GraftTable.deleteTree(dir)
      secs
    }
    ioCanary() // warm the write/read codegen + committer paths
    // one timed execution; a failed query must be visible: negative secs
    def sample(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (ok) secs else -secs
    }
    val names = picked.keys.toSeq
    val cFloor = canaryFloor()
    // the committed canary floor was measured at local[32] and the canary
    // workload parallelizes — at any other thread count the comparison is
    // meaningless (observed: CPUS=8 reads ~4x the floor on an idle box),
    // so round cleanliness is only judged at the driver's 32-thread
    // config; other configs run exactly `runs` rounds and keep everything
    val gateFloor = if (cpus == "32") cFloor else None
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val brackets = scala.collection.mutable.ArrayBuffer[Bracket]()
    val schedRounds = scala.collection.mutable.ArrayBuffer[Double]()
    val ioRounds = scala.collection.mutable.ArrayBuffer[Double]()
    // cumulative JVM GC seconds — the round-11 aging diagnosis found
    // suite medians can measure GC pressure, not the engine; per-round
    // GC time in the log makes that visible instead of inferable
    def gcSecs(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3
    }
    var gcPrev = gcSecs()
    def cleanCount: Int = cleanFlags(brackets.toSeq, gateFloor, cleanThresh).count(identity)
    var round = 0
    while (round < runs || (round < maxRounds && cleanCount < cleanTarget)) {
      val pre = canarySample()
      val sched = schedCanary()
      val io = ioCanary()
      names.foreach(n => samples(n) = samples(n) :+ sample(n, picked(n)))
      val post = warmedCanary()
      brackets += Bracket(pre, post)
      schedRounds += sched
      ioRounds += io
      round += 1
      val gcNow = gcSecs()
      val gcRound = gcNow - gcPrev
      gcPrev = gcNow
      val heapMb = (Runtime.getRuntime.totalMemory -
        Runtime.getRuntime.freeMemory) / 1048576
      System.err.println(f"[bench] round $round bracket ${pre}%.3f/${post}%.3f " +
        f"sched ${sched}%.3f io ${io}%.3f gc ${gcRound}%.1fs heap ${heapMb}MB " +
        f"clean_rounds=$cleanCount")
    }
    val kept = keptRounds(brackets.toSeq, gateFloor, cleanThresh)
    // any failed sample poisons the query: report the (negative) median
    // of magnitudes so the failure is visible regardless of sample order
    def medOf(xs: Vector[Double]): Double =
      if (xs.isEmpty) 0.0
      else if (xs.forall(_ > 0)) median(xs) else -median(xs.map(math.abs))
    val fl = floors()
    // scheduling-canary verdict inputs: kept-round median vs the committed
    // quiet-window floor (32-thread config only, same rule as the CPU
    // canary). The EXCESS over the floor is the additive dispatch-latency
    // term of THIS window — the machine term that dominates sub-second
    // queries and that the CPU canary provably cannot see.
    def schedKeptSamples(kept: Seq[Boolean]): Seq[Double] =
      schedRounds.toSeq.zip(kept).collect { case (s, true) => s }
    val schedFloorV = if (cpus == "32") schedFloor() else None
    // floor classes (BASELINE.md `floor class <name> (tolerance Nx): ...`):
    // queries whose floor doesn't measure the engine alone (subprocess-
    // bound interop) are judged at their class tolerance and reported
    // under `floor_classes`, never in the default 2x lists — a loaded
    // machine otherwise flags the OS fork path without measuring the
    // engine at all (the round-12 blind spot)
    val fclasses = floorClasses()
    val classOf: Map[String, (String, Double)] = fclasses.flatMap {
      case (c, (tol, ks)) => ks.map(k => k -> ((c, tol)))
    }
    def flaggedOf(res: Map[String, Double]): Seq[(String, Double)] =
      res.toSeq.flatMap { case (k, v) =>
        fl.get(k).filter(_ => v > 0 && !classOf.contains(k)).map(f => k -> v / f)
      }.filter(_._2 > 2.0).sortBy(-_._2)
    // class-tagged queries flagged above their OWN tolerance — these
    // still earn a tail re-run and an isolated recheck, they just never
    // enter the default-2x verdict lists
    def classFlaggedOf(res: Map[String, Double]): Seq[(String, Double)] =
      res.toSeq.flatMap { case (k, v) =>
        for {
          (_, tol) <- classOf.get(k)
          f <- fl.get(k) if v > 0
          r = v / f if r > tol
        } yield k -> r
      }.sortBy(-_._2)
    // tail re-run: queries flagged >2x floor after the main loop get two
    // more samples here — if the main loop crossed a steal window, the
    // tail usually doesn't; tail samples join the medians only when the
    // tail's own bracket is clean (same rule as a main round)
    val firstPass = names.map(n =>
      n -> medOf(selectSamples(samples(n), kept, Vector.empty, tailKept = false))).toMap
    // worst offenders first, capped so a globally slow window (every
    // query flagged) can't double the suite cost in the tail
    val toRerun = (flaggedOf(firstPass) ++ classFlaggedOf(firstPass))
      .map(_._1).take(30)
    val tailSamples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    var tailBracket: Option[Bracket] = None
    if (toRerun.nonEmpty) {
      val pre = warmedCanary()
      for (_ <- 1 to 2; n <- toRerun)
        tailSamples(n) = tailSamples(n) :+ sample(n, picked(n))
      val post = warmedCanary()
      tailBracket = Some(Bracket(pre, post))
    }
    val tailKept = tailBracket.exists(b =>
      cleanFlags(Seq(b), gateFloor, cleanThresh).head)
    val results = names.map(n =>
      n -> medOf(selectSamples(samples(n), kept, tailSamples(n), tailKept))).toMap
    val qs = names.map(k => s"\"" + k + "\":" + results(k))
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // the canary that normalizes the verdict is the median over the SAME
    // rounds the query medians came from — kept-round brackets (plus the
    // tail bracket when used); mixing in dropped rounds would divide
    // clean samples by a stolen-window canary and overcorrect
    val usedBrackets = brackets.toSeq.zip(kept).collect { case (b, true) => b } ++
      (if (tailKept) tailBracket.toSeq else Nil)
    val canary = median(usedBrackets.flatMap(b => Seq(b.pre, b.post)))
    // vs-floor verdict: per-query median / best committed BASELINE.md
    // column; flagged = ratio > 2 (the documented noise tolerance)
    val ratios = results.toSeq.flatMap { case (k, v) =>
      fl.get(k).filter(_ => v > 0).map(f => k -> v / f)
    }
    val flagged = flaggedOf(results)
    // canary-normalized verdict: every per-query ratio divided by this
    // run's canary_ratio. The per-query floors and the canary floor were
    // measured in the SAME historical window, so dividing by the canary
    // cancels the machine-speed term and leaves the engine term — a
    // query that is genuinely 3x slower stays ~3x after normalization,
    // while one that merely rode a slow VM window drops to ~1x. With
    // steal-aware selection the kept windows are usually clean, so the
    // normalization is ~identity; it earns its keep exactly when no
    // clean window existed all run.
    val canaryR = cFloor.map(canary / _)
    val schedKept = schedKeptSamples(kept)
    val schedSecV = if (schedKept.nonEmpty) Some(median(schedKept)) else None
    val schedExcess = for { f <- schedFloorV; s <- schedSecV }
      yield math.max(0.0, s - f)
    // canary-normalized per-query ratios (None when no canary floor):
    // shared by the flagged_normalized list and the recheck key set
    val normRatios = canaryR.filter(_ > 0).map(c =>
      ratios.map { case (k, r) => k -> r / c })
    // --- isolated re-check of surviving flags --------------------------
    // The round-8 adjudication protocol, run by the harness itself: any
    // query still flagged (raw or normalized) after medians re-runs
    // ALONE after the suite, bracketed by fresh CPU + I/O canaries, and
    // the JSON carries the isolated numbers — so a reader can tell
    // "dirty io window" (recheck ~1x under clean canaries) from "engine
    // regression" (recheck still >2x) without any prose adjudication.
    // Re-check medians never alter the reported medians; they are
    // evidence, not samples. Always runs when flags survive (the
    // io_ratio>1.3 write-heavy case is where it earns its keep; running
    // it unconditionally is strictly more informative and bounded).
    val recheckKeys = (flagged.map(_._1) ++
      normRatios.getOrElse(Nil)
        .filter { case (k, r) => r > 2.0 && !classOf.contains(k) }.map(_._1) ++
      classFlaggedOf(results).map(_._1)).distinct.take(12)
    val (recheckJson, recheckVerdicts): (String, Seq[RecheckVerdict]) =
      if (recheckKeys.isEmpty) ("null", Nil) else {
      // the recheck defends its OWN window ([[recheckAttemptClean]]):
      // an attempt whose brackets read dirty retries (bounded, with an
      // exponential settle pause — [[backoffMs]]; the round-12 fixed-5 s
      // pause lost to a multi-minute steal window, leaving every flag
      // unadjudicated); keys never measured inside a clean attempt are
      // published `window_dirty: true` instead of standing as evidence.
      val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_RECHECK_ATTEMPTS", "5")
        .toInt.max(1)
      val backoffBase = sys.env.getOrElse("SPARK_GRAFT_RECHECK_BACKOFF_MS", "10000")
        .toLong.max(0)
      val backoffCap = sys.env.getOrElse("SPARK_GRAFT_RECHECK_BACKOFF_CAP_MS", "120000")
        .toLong.max(backoffBase)
      val ioThresh = sys.env.getOrElse("SPARK_GRAFT_IO_CLEAN", "2.0").toDouble
      val ioFl = if (cpus == "32") ioFloor() else None
      // io-bound keys are adjudicable only under the STRICT io multiple
      // ([[recheckKeyDirty]]); with no committed phrase the strict bar
      // degrades to the loose one and the rule is the round-13 behavior
      val ioBound = ioBoundKeys()
      val strictT = ioCleanStrict().getOrElse(ioThresh)
      val anyIoBound = recheckKeys.exists(ioBound)
      final case class Attempt(cpu: Bracket, io: Bracket, clean: Boolean)
      // last measurement per key (overwritten until a clean attempt)
      val measured = scala.collection.mutable.Map[String, (Double, Boolean)]()
      val attempts = retryUntilClean(maxAttempts, backoffBase, backoffCap,
        Thread.sleep, { _ =>
          val pre = warmedCanary(); val ioPre = ioCanary()
          val secs = recheckKeys.map(k => k -> medOf(Vector.fill(2)(sample(k, picked(k)))))
          val post = warmedCanary(); val ioPost = ioCanary()
          val ioB = Bracket(ioPre, ioPost)
          val baseClean = recheckAttemptClean(Bracket(pre, post), gateFloor,
            cleanThresh, ioB, ioFl, ioThresh)
          secs.foreach { case (k, s) =>
            measured(k) = (s, recheckKeyDirty(baseClean, ioBound(k), ioB, ioFl, strictT))
          }
          val settled = recheckAttemptSettled(baseClean, anyIoBound, ioB, ioFl, strictT)
          (Attempt(Bracket(pre, post), ioB, settled), settled)
        }).map(_._1)
      val verdicts = recheckKeys.map { k =>
        val (sec, dirty) = measured(k)
        RecheckVerdict(k, sec, fl.get(k).filter(_ => sec > 0).map(sec / _),
          ioBound(k), dirty)
      }
      val entries = verdicts.map { v =>
        s"""\"${v.key}\":{"sec":${f"${v.sec}%.3f"},""" +
          s""""ratio":${v.ratio.map(r => f"$r%.2f").getOrElse("null")},""" +
          s""""io_bound":${v.ioBound},"window_dirty":${v.windowDirty}}"""
      }
      val attJson = attempts.map(a =>
        s"""{"canary_pre":${f"${a.cpu.pre}%.3f"},"canary_post":${f"${a.cpu.post}%.3f"},""" +
          s""""io_pre":${f"${a.io.pre}%.3f"},"io_post":${f"${a.io.post}%.3f"},"clean":${a.clean}}""")
        .mkString("[", ",", "]")
      val last = attempts.last
      (s"""{"queries":${entries.mkString("{", ",", "}")},"attempts":$attJson,""" +
        s""""canary_pre":${f"${last.cpu.pre}%.3f"},"canary_post":${f"${last.cpu.post}%.3f"},""" +
        s""""io_pre":${f"${last.io.pre}%.3f"},"io_post":${f"${last.io.post}%.3f"}}""",
        verdicts)
    }
    // headline pieces, shared by the full detail line and the summary line
    val medRatioOpt = if (ratios.isEmpty) None else Some(median(ratios.map(_._2)))
    val normMedOpt = normRatios.filter(_.nonEmpty).map(nr => median(nr.map(_._2)))
    val flaggedNormList = normRatios.getOrElse(Nil)
      .filter { case (k, r) => r > 2.0 && !classOf.contains(k) }.sortBy(-_._2)
    val vsFloor = if (ratios.isEmpty) "null" else {
      val medR = medRatioOpt.get
      val fj = flagged.map { case (k, r) => s"\"" + k + "\":" + f"$r%.2f" }
        .mkString("{", ",", "}")
      val norm = normMedOpt.map { nm =>
        val nf = flaggedNormList
          .map { case (k, r) => s"\"" + k + "\":" + f"$r%.2f" }
          .mkString("{", ",", "}")
        s""","median_ratio_normalized":${f"$nm%.3f"},"flagged_normalized":$nf"""
      }.getOrElse("")
      // per-class report: every tagged query's ratio plus the flags that
      // exceed the CLASS tolerance — separated from the default lists so
      // a subprocess-bound ratio never masquerades as an engine verdict
      val fcJson = if (fclasses.isEmpty) "" else {
        val parts = fclasses.toSeq.sortBy(_._1).map { case (c, (tol, ks)) =>
          val rs = ratios.filter { case (k, _) => ks(k) }
          val rj = rs.sortBy(_._1)
            .map { case (k, r) => s"\"" + k + "\":" + f"$r%.2f" }
            .mkString("{", ",", "}")
          val fj2 = rs.filter(_._2 > tol).sortBy(-_._2)
            .map { case (k, r) => s"\"" + k + "\":" + f"$r%.2f" }
            .mkString("{", ",", "}")
          s""""$c":{"tolerance":$tol,"ratios":$rj,"flagged":$fj2}"""
        }
        s""","floor_classes":${parts.mkString("{", ",", "}")}"""
      }
      // sched-adjusted flags: subtract ONE sched-excess from each flagged
      // query before re-testing the 2x rule — conservative (the sched
      // canary is itself a 3-stage job; every real query runs at least as
      // many stages), so a query this clears was flagged by dispatch
      // jitter, not the engine. Emitted beside the raw/normalized lists;
      // sub-second raw flags are adjudicated against THIS list.
      val adj = schedExcess.map { ex =>
        val af = flagged
          .map { case (k, _) => k -> (results(k) - ex) / fl(k) }
          .filter(_._2 > 2.0)
          .map { case (k, r) => s"\"" + k + "\":" + f"$r%.2f" }
          .mkString("{", ",", "}")
        s""","flagged_sched_adjusted":$af"""
      }.getOrElse("")
      s"""{"median_ratio":${f"$medR%.3f"},"n_compared":${ratios.size},""" +
        s""""flagged":$fj$norm$adj$fcJson,"flagged_recheck":$recheckJson}"""
    }
    // canary emits top-level: it is meaningful even when no floor rows
    // matched (fresh checkout, SPARK_GRAFT_ONLY on brand-new queries).
    // "rounds" carries full per-round provenance — bracket canaries and
    // whether the round's samples made it into the medians — so a reader
    // can see WHICH windows the verdict stands on.
    val cr = canaryR.map(f => f"$f%.2f").getOrElse("null")
    val cleanSeq = cleanFlags(brackets.toSeq, gateFloor, cleanThresh)
    val roundsJson = brackets.toSeq.zip(kept).map { case (b, k) =>
      s"""{"pre":${f"${b.pre}%.3f"},"post":${f"${b.post}%.3f"},"kept":$k}"""
    }.mkString("[", ",", "]")
    val tailJson = tailBracket.map(b =>
      s"""{"pre":${f"${b.pre}%.3f"},"post":${f"${b.post}%.3f"},"kept":$tailKept}""")
      .getOrElse("null")
    // canary_rounds: flat bracket list in time order (back-compat field)
    val crs = (brackets.toSeq.flatMap(b => Seq(b.pre, b.post)) ++
      tailBracket.toSeq.flatMap(b => Seq(b.pre, b.post)))
      .map(c => f"$c%.3f").mkString("[", ",", "]")
    val schedJson = schedRounds.map(c => f"$c%.3f").mkString("[", ",", "]")
    val schedSec = schedSecV.map(s => f"$s%.3f").getOrElse("null")
    val schedRatioOpt = for { f <- schedFloorV; s <- schedSecV } yield s / f
    val schedRatio = schedRatioOpt.map(r => f"$r%.2f").getOrElse("null")
    val ioJson = ioRounds.map(c => f"$c%.3f").mkString("[", ",", "]")
    val ioKept = ioRounds.toSeq.zip(kept).collect { case (s, true) => s }
    val ioSecV = if (ioKept.nonEmpty) Some(median(ioKept)) else None
    val ioSec = ioSecV.map(s => f"$s%.3f").getOrElse("null")
    val ioFloorV = if (cpus == "32") ioFloor() else None
    val ioRatioOpt = for { f <- ioFloorV; s <- ioSecV } yield s / f
    val ioRatio = ioRatioOpt.map(r => f"$r%.2f").getOrElse("null")
    val rr = toRerun.map("\"" + _ + "\"").mkString("[", ",", "]")
    // aging telemetry: per-round suite wall (sum of that round's samples,
    // magnitudes so a failed query still counts its time) and the
    // kept-round slope vs the committed threshold
    val roundWalls: Seq[Double] = (0 until brackets.size).map(r =>
      names.map(n => math.abs(samples(n)(r))).sum)
    val agingR = agingRatio(roundWalls, kept)
    val agingT = agingThreshold()
    val agingJson = agingR.map(a => f"$a%.3f").getOrElse("null")
    val agingTJson = agingT.map(t => f"$t%.2f").getOrElse("null")
    val agingExceededOpt = for { a <- agingR; t <- agingT } yield a > t
    val agingExceeded = agingExceededOpt.map(_.toString).getOrElse("null")
    val wallsJson = roundWalls.map(w => f"$w%.2f").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sf":"$sfDir","runs":${brackets.size},"stat":"median","interleaved":true,""" +
      s""""canary_sec":${f"$canary%.3f"},"canary_ratio":$cr,""" +
      s""""canary_rounds":$crs,"sched_rounds":$schedJson,"sched_sec":$schedSec,""" +
      s""""sched_ratio":$schedRatio,""" +
      s""""io_rounds":$ioJson,"io_sec":$ioSec,"io_ratio":$ioRatio,""" +
      s""""rounds":$roundsJson,"tail":$tailJson,""" +
      s""""clean_threshold":$cleanThresh,"rounds_kept":${cleanSeq.count(identity)},""" +
      s""""rounds_total":${brackets.size},"reran":$rr,""" +
      s""""round_walls":$wallsJson,"aging_ratio":$agingJson,""" +
      s""""aging_threshold":$agingTJson,"aging_exceeded":$agingExceeded,""" +
      s""""vs_floor":$vsFloor}""")
    // the compact summary is the FINAL line: the driver's archived tail
    // always carries the adjudicable numbers even though the full detail
    // line above overflows it (round 15; format pinned by BenchParseSpec)
    println(summaryLine(total, medRatioOpt, normMedOpt, canaryR,
      ioRatioOpt, schedRatioOpt, cleanSeq.count(identity), brackets.size,
      agingR, agingExceededOpt, flagged, flaggedNormList, recheckVerdicts))
    spark.stop()
  }
}
