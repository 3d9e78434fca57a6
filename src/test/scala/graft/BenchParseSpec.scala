package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pins Bench's committed floors and its summary line. The floors once
  * lived in BASELINE.md prose and were regex-parsed (round 5's
  * canary-normalized verdict silently never fired because a phrase was
  * line-wrapped); they now live in `floors.json`, read by
  * [[Bench.loadFloors]]. The committed-value legs keep their names from
  * the BASELINE.md era and pin the same values against the file. */
class BenchParseSpec extends AnyFunSuite {
  private val committed = Bench.loadFloors()

  test("canary floor parses from the committed BASELINE.md") {
    val f = committed.canaryFloor
    assert(f.nonEmpty, "floors.json lost its canary_floor")
    assert(f.get > 0.0 && f.get < 10.0, s"implausible canary floor: $f")
  }

  test("per-query floors parse from the committed BASELINE.md") {
    val fl = committed.floors
    assert(fl.size > 100, s"floor table shrank: ${fl.size} rows")
    // refresh semantics: each value is the latest committed re-floor.
    // q_dedup_jaccard has four generations — the pre-reshape 1.43, the
    // round-7 post-reshape 3.72 (soft: it embedded warm-cache reruns via
    // the since-fixed CacheManager leak), the round-12 honest floor
    // 6.327, and the round-13 xxhash64-key floor; the pin is the
    // round-13 window-B value
    assert(fl.get("q_dedup_jaccard").contains(5.87),
      s"round-13 floor must hold: ${fl.get("q_dedup_jaccard")}")
    // round-7 additions present
    assert(fl.contains("q_geo_sphere"))
    // round-8 refresh of the stale r4-pristine floors
    assert(fl.get("q_ann_ivf").contains(0.56),
      s"r8 floor refresh must hold: ${fl.get("q_ann_ivf")}")
    assert(fl.get("q_events_window").contains(0.25))
    // round-11 refresh: the r3/r4-era recheck cluster + the documented
    // q_stream_topk re-floor (min of the two clean-window columns per
    // the committed semantics)
    assert(fl.get("q01_pricing_summary").contains(0.326),
      s"r11 floor refresh must hold for q01: ${fl.get("q01_pricing_summary")}")
    assert(fl.get("q_bm25").contains(0.821),
      s"r11 floor refresh must hold for q_bm25: ${fl.get("q_bm25")}")
    assert(fl.get("q_stream_topk").contains(1.372),
      s"r11 topk re-floor must hold: ${fl.get("q_stream_topk")}")
    // first floor for the round-11 interop query
    assert(fl.get("q_interop_extbranch").contains(3.655))
    // round-16 re-floors (three-consecutive-sole-flag precedent executed
    // with an io-1.09x CLEAN window)
    assert(fl.get("q_overwrite_partitions").contains(1.249),
      s"r16 re-floor must hold: ${fl.get("q_overwrite_partitions")}")
    assert(fl.get("q_update_cow").contains(1.727),
      s"r16 re-floor must hold: ${fl.get("q_update_cow")}")
    // first floor for the round-16 escapable-partition seam guard
    assert(fl.get("q_escaped_partition").contains(4.02))
  }

  test("sched floor parses from the committed BASELINE.md (round-8 commitment)") {
    val f = committed.schedFloor
    assert(f.nonEmpty, "floors.json lost its sched_floor")
    assert(f.get > 0.0 && f.get < 2.0, s"implausible sched floor: $f")
  }

  test("io floor parses from the committed BASELINE.md (round-8 closing commitment)") {
    val f = committed.ioFloor
    assert(f.nonEmpty, "floors.json lost its io_floor")
    assert(f.get > 0.0 && f.get < 5.0, s"implausible io floor: $f")
  }

  test("aging threshold parses from the committed BASELINE.md (round-12 commitment)") {
    val t = committed.agingThreshold
    assert(t.nonEmpty, "floors.json lost its aging_threshold")
    assert(t.get > 1.0 && t.get < 3.0, s"implausible aging threshold: $t")
  }

  test("floor classes parse from the committed BASELINE.md (round-13 commitment)") {
    val fc = committed.floorClasses
    assert(fc.contains("subprocess"), "floors.json lost its subprocess floor class")
    val Bench.FloorClass(tol, keys) = fc("subprocess")
    assert(tol == 3.0, s"committed subprocess tolerance drifted: $tol")
    // the six extwriter three-process queries plus the round-13 pyarrow
    // third-reader pair — floors dominated by interpreter startup, never
    // comparable to in-JVM floors at 2x
    assert(keys == Set(
      "q_interop_extwrite", "q_interop_extwrite_resolver",
      "q_interop_extupdate", "q_interop_extevolve",
      "q_interop_extmerge", "q_interop_extbranch",
      "q_interop_pyread", "q_interop_pyread_evolved"),
      s"subprocess class membership drifted: $keys")
  }

  test("io clean threshold + io-bound queries parse from the committed BASELINE.md (round-14 commitment)") {
    val t = committed.ioCleanThreshold
    assert(t.contains(1.35), s"floors.json's io_clean_threshold drifted: $t")
    val ks = committed.ioBound
    // the table-format keys whose plan writes the full input table at
    // least once — the class round 8 observed flagging together under
    // neighbor disk traffic, and the class round 13's recheck mis-ruled.
    // q_sql_ctas joined in round 15 (CTAS + RTAS = two full table
    // writes; the r14 driver recheck ruled it in a 1.8-2x-io window)
    // q_escaped_partition joined in round 16 (four sequential row-op
    // commits, CoW rewrite + DV/posdel write dominated)
    assert(ks == Set(
      "q_overwrite_partitions", "q_hidden_partitioning", "q_write_insert",
      "q_update_cow", "q_compaction", "q_maintenance", "q_zorder",
      "q_partition_evolution", "q_sql_ctas", "q_escaped_partition"),
      s"io-bound membership drifted: $ks")
  }

  test("floors.json covers exactly the registered queries; every tagged key has a floor") {
    // a new operator key without a floor would never be judged, and a
    // floor left behind for a deleted key would judge nothing
    val fl = committed.floors
    val reg = SparkEntry.queries.keySet
    assert(fl.keySet == reg, s"keys without a floor: ${(reg -- fl.keySet).mkString(", ")}; " +
      s"floors without a key: ${(fl.keySet -- reg).mkString(", ")}")
    // a tag on a floor-less key would silently judge nothing
    val tagged = committed.ioBound ++ committed.floorClasses.values.flatMap(_.keys)
    assert(tagged.forall(fl.contains), "tagged key without a floor: " +
      tagged.filterNot(fl.contains).mkString(", "))
  }

  test("a malformed floors file throws; a missing one means no floors") {
    val t = Files.createTempFile("floors", ".json")
    def write(floor: String, aging: String = "1.5", extra: String = "") = Files.writeString(t,
      s"""{$extra"canary_floor": 0.055, "sched_floor": 0.09, "io_floor": 0.33,
         | "aging_threshold": $aging, "io_clean_threshold": 1.35,
         | "io_bound": ["q_a"], "floor_classes": {"c": {"tolerance": 3.0, "keys": ["q_a"]}},
         | "floors": {"q_a": $floor}}""".stripMargin)
    try {
      write("1.25")
      val ok = Bench.loadFloors(t.toString)
      assert(ok.floors == Map("q_a" -> 1.25) && ok.agingThreshold.contains(1.5) &&
        ok.floorClasses == Map("c" -> Bench.FloorClass(3.0, Set("q_a"))), ok)
      // an integer literal still reads as a Double
      write("2")
      assert(Bench.loadFloors(t.toString).floors("q_a") == 2.0)
      write("\"fast\"")
      intercept[Exception](Bench.loadFloors(t.toString))
      write("1.25", aging = "\"1.5x\"")
      intercept[Exception](Bench.loadFloors(t.toString))
      // a misspelt or dropped field is an error, not a silently absent floor
      write("1.25", extra = "\"canary_flor\": 0.06, ")
      intercept[Exception](Bench.loadFloors(t.toString))
      Files.writeString(t, """{"floors": {"q_a": 1.25}}""")
      intercept[Exception](Bench.loadFloors(t.toString))
    } finally Files.delete(t)
    val none = Bench.loadFloors(t.toString)
    assert(none.floors.isEmpty && none.canaryFloor.isEmpty && none.ioBound.isEmpty &&
      none.floorClasses.isEmpty, none)
  }

  test("summary line: single line, compact, carries the adjudicable numbers (round-15 commitment)") {
    import Bench.RecheckVerdict
    val flagged = (1 to 20).map(i => s"q_flag_$i" -> (2.0 + i * 0.1))
    val recheck = (1 to 12).map(i => RecheckVerdict(s"q_recheck_key_$i",
      1.234, Some(2.37), ioBound = i % 2 == 0, windowDirty = i % 3 == 0))
    val line = Bench.summaryLine(283.4, Some(1.308), Some(1.064), Some(1.23),
      Some(1.73), Some(1.08), 3, 6, Some(1.163), Some(false),
      flagged, flagged.take(3), recheck)
    assert(!line.contains("\n"), "summary must be ONE line")
    assert(line.startsWith("{\"summary\":{"), s"format drifted: ${line.take(40)}")
    // the driver archives only the last ~2000 chars — even a worst-case
    // globally-flagged window with a full 12-key recheck must fit
    assert(line.length < 2000, s"summary line too long: ${line.length}")
    assert(line.contains("\"total\":283.40") && line.contains("\"median_ratio\":1.308")
      && line.contains("\"median_ratio_normalized\":1.064")
      && line.contains("\"io_ratio\":1.73"), s"headline numbers missing: $line")
    // flag lists cap at SummaryFlagCap WORST entries, true count kept
    assert(line.contains("\"flagged_count\":20"), line)
    assert(line.contains("\"q_flag_20\":4.00"), "worst flag must survive the cap")
    // q_flag_5 (2.5x) is outside both the top-6 raw cap and the
    // 3-entry normalized list — it must not appear anywhere
    assert(!line.contains("\"q_flag_5\":"), "capped entries must drop")
    // recheck verdicts are never capped (bounded at 12 by construction)
    assert((1 to 12).forall(i => line.contains(s"q_recheck_key_$i")),
      "every recheck verdict must survive")
    assert(line.contains("\"window_dirty\":true") &&
      line.contains("\"window_dirty\":false"), line)
    // machine-parseable: balanced braces on the single line
    assert(line.count(_ == '{') == line.count(_ == '}'), "unbalanced JSON")
    // null propagation: a fresh checkout (no floors) still emits a line
    val bare = Bench.summaryLine(1.0, None, None, None, None, None, 0, 0,
      None, None, Nil, Nil, Nil)
    assert(bare.contains("\"median_ratio\":null") &&
      bare.contains("\"recheck\":{}"), bare)
  }
}
