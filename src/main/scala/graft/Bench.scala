package graft
import com.fasterxml.jackson.databind.{DeserializationFeature, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import java.lang.{Double => JDouble}

/** Benchmark main: one JSON line with per-query MEDIAN seconds plus a
  * machine-readable vs-floor verdict against the committed floors
  * (`floors.json`, [[loadFloors]]).
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
  * by [[MaxRounds]]) until [[CleanRounds]] clean rounds exist — rounds 5 and 6 both ran entirely inside 5×-steal
  * windows, so a fixed 3-round run can end with nothing trustworthy;
  * the bounded retry is what finally grounds a verdict in clean
  * windows when the VM offers any. If NO round is clean the medians
  * fall back to all samples (a fully-stolen window still measures
  * something; the canary-normalized verdict then carries the
  * adjudication) and the JSON says so via per-round provenance. */
object Bench {
  // Sampling and recheck policy: fixed, every committed run used these.
  /** where the canary floor applies, rounds keep running, up to this many
    * in total (or SPARK_GRAFT_RUNS when larger), until [[CleanRounds]]
    * rounds are clean; elsewhere exactly SPARK_GRAFT_RUNS rounds run */
  val MaxRounds = 7
  val CleanRounds = 3
  /** a round is clean when both canary brackets read under this
    * multiple of the committed canary floor */
  val CanaryClean = 2.0
  /** isolated-recheck attempts, and the settle pause before each retry
    * ([[backoffMs]]: doubles from the base, capped) */
  val RecheckAttempts = 5
  val RecheckBackoffMs = 10000L
  val RecheckBackoffCapMs = 120000L
  /** loose io gate of a recheck attempt: both io bracket samples under
    * this multiple of the committed io floor */
  val IoClean = 2.0

  /** Queries whose committed floor does not measure the engine alone —
    * e.g. the `subprocess` class, dominated by python-interpreter
    * startup, where a 2x ratio on a loaded machine flags the OS fork
    * path. They are reported under `floor_classes` and flagged only
    * above their class `tolerance`, never by the default 2x rule. */
  final case class FloorClass(tolerance: Double, keys: Set[String])

  /** Bench's committed comparison protocol, kept in `floors.json`:
    * per-query floor seconds; the quiet-window seconds of the CPU,
    * scheduling and I/O canaries at local[32]; the aging threshold (max
    * ratio of the last kept round's suite wall to the first's — the
    * round-10/11 streaming regressions showed as a monotone round-over-
    * round climb inside one bench JVM); the strict io-clean multiple and
    * the io-bound keys it applies to (queries dominated by parquet data
    * writes: round 13's recheck read io 1.5-1.7x the io floor, passed the
    * loose [[IoClean]] gate and published a flag the window could not
    * rule); and the [[FloorClass]]es. */
  final case class Floors(
      @JsonDeserialize(contentAs = classOf[JDouble]) floors: Map[String, Double],
      @JsonDeserialize(contentAs = classOf[JDouble]) canaryFloor: Option[Double],
      @JsonDeserialize(contentAs = classOf[JDouble]) schedFloor: Option[Double],
      @JsonDeserialize(contentAs = classOf[JDouble]) ioFloor: Option[Double],
      @JsonDeserialize(contentAs = classOf[JDouble]) agingThreshold: Option[Double],
      @JsonDeserialize(contentAs = classOf[JDouble]) ioCleanThreshold: Option[Double],
      ioBound: Set[String], floorClasses: Map[String, FloorClass])

  // snake_case fields; a missing, null, unknown or non-numeric field throws
  private val floorsMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)
    .build()

  /** The committed floors. A missing file is a fresh checkout: no floors,
    * so every window counts as clean and ratios publish as null. A
    * malformed file throws. A re-floor edits the file. */
  def loadFloors(path: String = "floors.json"): Floors = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p))
      Floors(Map.empty, None, None, None, None, None, Set.empty, Map.empty)
    else floorsMapper.readValue(p.toFile, classOf[Floors])
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
    def fmap(xs: Seq[(String, Double)]) = ratioMap(xs.sortBy(-_._2).take(SummaryFlagCap))
    s"""{"summary":{"total":${f"$total%.2f"},"median_ratio":${num3(medianRatio)},""" +
      s""""median_ratio_normalized":${num3(normMedian)},""" +
      s""""canary_ratio":${num2(canaryRatio)},"io_ratio":${num2(ioRatio)},""" +
      s""""sched_ratio":${num2(schedRatio)},""" +
      s""""rounds_kept":$roundsKept,"rounds_total":$roundsTotal,""" +
      s""""aging_ratio":${num3(agingRatio)},""" +
      s""""aging_exceeded":${agingExceeded.map(_.toString).getOrElse("null")},""" +
      s""""flagged_count":${flagged.size},"flagged":${fmap(flagged)},""" +
      s""""flagged_normalized_count":${flaggedNorm.size},""" +
      s""""flagged_normalized":${fmap(flaggedNorm)},"recheck":${recheckJson(recheck)}}}"""
  }

  // JSON pieces shared by the detail line and the summary line
  private def num2(o: Option[Double]) = o.map(v => f"$v%.2f").getOrElse("null")
  private def num3(o: Option[Double]) = o.map(v => f"$v%.3f").getOrElse("null")
  /** `{"q_a":2.31,...}`, in the order given */
  private def ratioMap(xs: Seq[(String, Double)]): String =
    xs.map { case (k, r) => "\"" + k + "\":" + f"$r%.2f" }.mkString("{", ",", "}")
  private def recheckJson(vs: Seq[RecheckVerdict]): String = vs.map { v =>
    s"""\"${v.key}\":{"sec":${f"${v.sec}%.3f"},"ratio":${num2(v.ratio)},""" +
      s""""io_bound":${v.ioBound},"window_dirty":${v.windowDirty}}"""
  }.mkString("{", ",", "}")

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
      ioBracketClean(io, ioFloor, ioThresh)

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
    val committed = loadFloors() // before any work: a malformed file throws
    val fl = committed.floors
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
    def secs(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // machine-speed canary: a fixed engine-independent workload (range
    // sum through whole-stage codegen). Its ratio vs the committed
    // clean-window floor (`canary_floor`) tells the READER
    // whether a window measured the VM or the engine — and tells THIS
    // HARNESS which rounds to drop.
    def canarySample(): Double =
      secs(spark.range(200000000L).selectExpr("sum(id * 3 + 1)").collect())
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
    def schedCanary(): Double =
      secs(spark.range(0, 1024, 1, 8).repartition(cpus.toInt).repartition(7).count())
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
      val t = secs {
        spark.range(0L, 2000000L, 1L, 8)
          .selectExpr("id", "id * 7 as v")
          // the committed io floor was measured with snappy data files;
          // the round-16 zstd session default must not move the CANARY —
          // the instrument keeps its floor-era codec explicitly
          .write.mode("overwrite").option("compression", "snappy")
          .parquet(s"$dir/p")
        spark.read.parquet(s"$dir/p").count()
      }
      graft.table.GraftTable.deleteTree(dir)
      t
    }
    ioCanary() // warm the write/read codegen + committer paths
    // one timed execution; a failed query must be visible: negative secs
    def sample(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      var ok = true
      val t = secs(try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); ok = false
      })
      if (ok) t else -t
    }
    val names = picked.keys.toSeq
    // the committed canary floor was measured at local[32] and the canary
    // workload parallelizes — at any other thread count the comparison is
    // meaningless (observed: CPUS=8 reads ~4x the floor on an idle box),
    // so round cleanliness, the retry budget and the canary ratio are only
    // judged at the driver's 32-thread config; other configs count every
    // round clean, run exactly `runs` rounds and keep them all. The sched
    // and io floors were measured at local[32] too.
    def at32(f: Option[Double]) = if (cpus == "32") f else None
    val gateFloor = at32(committed.canaryFloor)
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
    def cleanCount: Int = cleanFlags(brackets.toSeq, gateFloor, CanaryClean).count(identity)
    var round = 0
    // bounded retry budget: keep adding rounds (up to MaxRounds total)
    // until CleanRounds rounds have clean brackets
    while (round < runs ||
        (gateFloor.isDefined && round < MaxRounds && cleanCount < CleanRounds)) {
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
    val kept = keptRounds(brackets.toSeq, gateFloor, CanaryClean)
    // any failed sample poisons the query: report the (negative) median
    // of magnitudes so the failure is visible regardless of sample order
    def medOf(xs: Vector[Double]): Double =
      if (xs.isEmpty) 0.0
      else if (xs.forall(_ > 0)) median(xs) else -median(xs.map(math.abs))
    def keptMedian(xs: Seq[Double]): Option[Double] = {
      val k = xs.zip(kept).collect { case (s, true) => s }
      if (k.nonEmpty) Some(median(k)) else None
    }
    val schedFloorV = at32(committed.schedFloor)
    val ioFl = at32(committed.ioFloor)
    // floor classes: queries whose floor doesn't measure the engine alone
    // (subprocess-bound interop) are judged at their class tolerance and
    // reported under `floor_classes`, never in the default 2x lists — a
    // loaded machine otherwise flags the OS fork path without measuring
    // the engine at all (the round-12 blind spot)
    val fclasses = committed.floorClasses
    val classOf: Map[String, (String, Double)] = fclasses.flatMap {
      case (c, fc) => fc.keys.map(k => k -> ((c, fc.tolerance)))
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
      cleanFlags(Seq(b), gateFloor, CanaryClean).head)
    val results = names.map(n =>
      n -> medOf(selectSamples(samples(n), kept, tailSamples(n), tailKept))).toMap
    val qs = names.map(k => "\"" + k + "\":" + results(k)).mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // the canary that normalizes the verdict is the median over the SAME
    // rounds the query medians came from — kept-round brackets (plus the
    // tail bracket when used); mixing in dropped rounds would divide
    // clean samples by a stolen-window canary and overcorrect
    val usedBrackets = brackets.toSeq.zip(kept).collect { case (b, true) => b } ++
      (if (tailKept) tailBracket.toSeq else Nil)
    val canary = median(usedBrackets.flatMap(b => Seq(b.pre, b.post)))
    // vs-floor verdict: per-query median / committed floor;
    // flagged = ratio > 2 (the documented noise tolerance)
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
    val canaryR = gateFloor.map(canary / _)
    // scheduling-canary verdict inputs: kept-round median vs the committed
    // quiet-window floor (32-thread config only, same rule as the CPU
    // canary). The EXCESS over the floor is the additive dispatch-latency
    // term of THIS window — the machine term that dominates sub-second
    // queries and that the CPU canary provably cannot see.
    val schedSecV = keptMedian(schedRounds.toSeq)
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
    val (recheckDetail, recheckVerdicts): (String, Seq[RecheckVerdict]) =
      if (recheckKeys.isEmpty) ("null", Nil) else {
      // the recheck defends its OWN window ([[recheckAttemptClean]]):
      // an attempt whose brackets read dirty retries (bounded, with an
      // exponential settle pause — [[backoffMs]]; the round-12 fixed-5 s
      // pause lost to a multi-minute steal window, leaving every flag
      // unadjudicated); keys never measured inside a clean attempt are
      // published `window_dirty: true` instead of standing as evidence.
      // io-bound keys are adjudicable only under the STRICT io multiple
      // ([[recheckKeyDirty]]); with no committed threshold the strict bar
      // degrades to the loose one and the rule is the round-13 behavior
      val ioBound = committed.ioBound
      val strictT = committed.ioCleanThreshold.getOrElse(IoClean)
      val anyIoBound = recheckKeys.exists(ioBound)
      final case class Attempt(cpu: Bracket, io: Bracket, clean: Boolean)
      // last measurement per key (overwritten until a clean attempt)
      val measured = scala.collection.mutable.Map[String, (Double, Boolean)]()
      val attempts = retryUntilClean(RecheckAttempts, RecheckBackoffMs, RecheckBackoffCapMs,
        Thread.sleep, { _ =>
          val pre = warmedCanary(); val ioPre = ioCanary()
          val secs = recheckKeys.map(k => k -> medOf(Vector.fill(2)(sample(k, picked(k)))))
          val post = warmedCanary(); val ioPost = ioCanary()
          val ioB = Bracket(ioPre, ioPost)
          val baseClean = recheckAttemptClean(Bracket(pre, post), gateFloor,
            CanaryClean, ioB, ioFl, IoClean)
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
      def bracketFields(a: Attempt) =
        s""""canary_pre":${f"${a.cpu.pre}%.3f"},"canary_post":${f"${a.cpu.post}%.3f"},""" +
          s""""io_pre":${f"${a.io.pre}%.3f"},"io_post":${f"${a.io.post}%.3f"}"""
      val attJson = attempts.map(a => s"""{${bracketFields(a)},"clean":${a.clean}}""")
        .mkString("[", ",", "]")
      (s"""{"queries":${recheckJson(verdicts)},"attempts":$attJson,""" +
        s"""${bracketFields(attempts.last)}}""", verdicts)
    }
    // headline pieces, shared by the full detail line and the summary line
    val medRatioOpt = if (ratios.isEmpty) None else Some(median(ratios.map(_._2)))
    val normMedOpt = normRatios.filter(_.nonEmpty).map(nr => median(nr.map(_._2)))
    val flaggedNormList = normRatios.getOrElse(Nil)
      .filter { case (k, r) => r > 2.0 && !classOf.contains(k) }.sortBy(-_._2)
    val vsFloor = if (ratios.isEmpty) "null" else {
      // null / {} when no canary floor applies (fresh checkout, or a
      // thread count the floor was not measured at): same field paths
      val norm = s""","median_ratio_normalized":${num3(normMedOpt)},""" +
        s""""flagged_normalized":${ratioMap(flaggedNormList)}"""
      // per-class report: every tagged query's ratio plus the flags that
      // exceed the CLASS tolerance — separated from the default lists so
      // a subprocess-bound ratio never masquerades as an engine verdict
      val fcJson = if (fclasses.isEmpty) "" else {
        val parts = fclasses.toSeq.sortBy(_._1).map { case (c, fc) =>
          val rs = ratios.filter { case (k, _) => fc.keys(k) }
          s""""$c":{"tolerance":${fc.tolerance},"ratios":${ratioMap(rs.sortBy(_._1))},""" +
            s""""flagged":${ratioMap(rs.filter(_._2 > fc.tolerance).sortBy(-_._2))}}"""
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
        s""","flagged_sched_adjusted":${ratioMap(af)}"""
      }.getOrElse("")
      s"""{"median_ratio":${num3(medRatioOpt)},"n_compared":${ratios.size},""" +
        s""""flagged":${ratioMap(flagged)}$norm$adj$fcJson,"flagged_recheck":$recheckDetail}"""
    }
    // canary emits top-level: it is meaningful even when no floor rows
    // matched (fresh checkout, SPARK_GRAFT_ONLY on brand-new queries).
    // "rounds" carries full per-round provenance — bracket canaries and
    // whether the round's samples made it into the medians — so a reader
    // can see WHICH windows the verdict stands on.
    def secs3(xs: Seq[Double]) = xs.map(c => f"$c%.3f").mkString("[", ",", "]")
    def bracketJson(b: Bracket, k: Boolean) =
      s"""{"pre":${f"${b.pre}%.3f"},"post":${f"${b.post}%.3f"},"kept":$k}"""
    val roundsKept = cleanFlags(brackets.toSeq, gateFloor, CanaryClean).count(identity)
    val roundsJson = brackets.toSeq.zip(kept).map((bracketJson _).tupled).mkString("[", ",", "]")
    val tailJson = tailBracket.map(bracketJson(_, tailKept)).getOrElse("null")
    // canary_rounds: flat bracket list in time order (back-compat field)
    val crs = secs3((brackets.toSeq ++ tailBracket).flatMap(b => Seq(b.pre, b.post)))
    val schedRatioOpt = for { f <- schedFloorV; s <- schedSecV } yield s / f
    val ioSecV = keptMedian(ioRounds.toSeq)
    val ioRatioOpt = for { f <- ioFl; s <- ioSecV } yield s / f
    val rr = toRerun.map("\"" + _ + "\"").mkString("[", ",", "]")
    // aging telemetry: per-round suite wall (sum of that round's samples,
    // magnitudes so a failed query still counts its time) and the
    // kept-round slope vs the committed threshold
    val roundWalls: Seq[Double] = (0 until brackets.size).map(r =>
      names.map(n => math.abs(samples(n)(r))).sum)
    val agingR = agingRatio(roundWalls, kept)
    val agingT = committed.agingThreshold
    val agingExceededOpt = for { a <- agingR; t <- agingT } yield a > t
    val agingExceeded = agingExceededOpt.map(_.toString).getOrElse("null")
    val wallsJson = roundWalls.map(w => f"$w%.2f").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sf":"$sfDir","runs":${brackets.size},"stat":"median","interleaved":true,""" +
      s""""canary_sec":${f"$canary%.3f"},"canary_ratio":${num2(canaryR)},""" +
      s""""canary_rounds":$crs,"sched_rounds":${secs3(schedRounds.toSeq)},""" +
      s""""sched_sec":${num3(schedSecV)},"sched_ratio":${num2(schedRatioOpt)},""" +
      s""""io_rounds":${secs3(ioRounds.toSeq)},"io_sec":${num3(ioSecV)},""" +
      s""""io_ratio":${num2(ioRatioOpt)},""" +
      s""""rounds":$roundsJson,"tail":$tailJson,""" +
      s""""clean_threshold":$CanaryClean,"rounds_kept":$roundsKept,""" +
      s""""rounds_total":${brackets.size},"reran":$rr,""" +
      s""""round_walls":$wallsJson,"aging_ratio":${num3(agingR)},""" +
      s""""aging_threshold":${num2(agingT)},"aging_exceeded":$agingExceeded,""" +
      s""""vs_floor":$vsFloor}""")
    // the compact summary is the FINAL line: the driver's archived tail
    // always carries the adjudicable numbers even though the full detail
    // line above overflows it (round 15; format pinned by BenchParseSpec)
    println(summaryLine(total, medRatioOpt, normMedOpt, canaryR,
      ioRatioOpt, schedRatioOpt, roundsKept, brackets.size,
      agingR, agingExceededOpt, flagged, flaggedNormList, recheckVerdicts))
    spark.stop()
  }
}
