package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Bracket, cleanFlags, keptRounds, median, selectSamples}

/** Pins the steal-aware sample-selection logic (pure functions in
  * [[Bench]]): which rounds count as clean, which samples feed the
  * medians, and the all-dirty fallback. Rounds 5 and 6 both ran inside
  * 5x-steal windows — the selection is what lets a BENCH_r7 verdict
  * stand on clean windows only, so it gets its own pins. */
class BenchSampleSpec extends AnyFunSuite {

  private val floor = Some(0.055)

  test("a round is clean only when BOTH brackets sit under thresh x floor") {
    val rounds = Seq(
      Bracket(0.06, 0.07),  // clean
      Bracket(0.06, 0.30),  // post bracket stolen -> dirty
      Bracket(0.30, 0.06),  // pre bracket stolen -> dirty
      Bracket(0.25, 0.28))  // fully stolen -> dirty
    assert(cleanFlags(rounds, floor, 2.0) == Seq(true, false, false, false))
  }

  test("threshold is strict: exactly 2.0x the floor is NOT clean") {
    assert(cleanFlags(Seq(Bracket(0.11, 0.11)), floor, 2.0) == Seq(false))
    assert(cleanFlags(Seq(Bracket(0.1099, 0.1099)), floor, 2.0) == Seq(true))
  }

  test("no canary floor (fresh checkout): every round counts as clean") {
    val rounds = Seq(Bracket(9.0, 9.0), Bracket(0.06, 0.06))
    assert(cleanFlags(rounds, None, 2.0) == Seq(true, true))
    assert(cleanFlags(rounds, Some(0.0), 2.0) == Seq(true, true))
  }

  test("kept rounds = clean rounds; all-dirty run falls back to all rounds") {
    val mixed = Seq(Bracket(0.06, 0.06), Bracket(0.30, 0.30))
    assert(keptRounds(mixed, floor, 2.0) == Seq(true, false))
    // an all-stolen run must still report medians over SOMETHING — the
    // normalized verdict adjudicates them — never an empty sample set
    val dirty = Seq(Bracket(0.30, 0.30), Bracket(0.40, 0.25))
    assert(keptRounds(dirty, floor, 2.0) == Seq(true, true))
  }

  test("medians come from kept-round samples; dropped rounds don't poison") {
    // round 2 rode a steal burst: its 9.0 s sample must not survive
    val main = Vector(1.0, 9.0, 1.2)
    val kept = Seq(true, false, true)
    val sel = selectSamples(main, kept, Vector.empty, tailKept = false)
    assert(sel == Vector(1.0, 1.2))
    assert(median(sel) == 1.1)
  }

  test("tail samples join the medians only when the tail bracket is clean") {
    val main = Vector(1.0, 9.0)
    val kept = Seq(true, false)
    assert(selectSamples(main, kept, Vector(1.1, 1.3), tailKept = true) ==
      Vector(1.0, 1.1, 1.3))
    assert(selectSamples(main, kept, Vector(8.0, 7.0), tailKept = false) ==
      Vector(1.0))
  }

  test("failed (negative) samples survive selection for the medOf poisoning") {
    val sel = selectSamples(Vector(-1.0, 2.0), Seq(true, true),
      Vector.empty, tailKept = false)
    assert(sel.contains(-1.0), "selection must not drop failure markers")
  }

  test("recheck keep rule: an attempt counts only when BOTH its CPU and io brackets are clean") {
    import graft.Bench.recheckAttemptClean
    val ioFloor = Some(0.33)
    // clean CPU + clean io -> counts
    assert(recheckAttemptClean(Bracket(0.06, 0.07), floor, 2.0,
      Bracket(0.40, 0.45), ioFloor, 2.0))
    // the round-9 gap, reproduced: canary_post 0.134 = 2.4x the 0.055
    // floor around an 11 s sample — that attempt must NOT count
    assert(!recheckAttemptClean(Bracket(0.089, 0.134), floor, 2.0,
      Bracket(0.620, 0.638), ioFloor, 2.0))
    // clean CPU but io bracket >= 2x the io floor -> dirty (write-path
    // queries are only adjudicable when the disk term was quiet)
    assert(!recheckAttemptClean(Bracket(0.06, 0.06), floor, 2.0,
      Bracket(0.30, 0.70), ioFloor, 2.0))
    // io threshold is strict at the boundary, same as the CPU rule
    assert(!recheckAttemptClean(Bracket(0.06, 0.06), floor, 2.0,
      Bracket(0.66, 0.40), ioFloor, 2.0))
    assert(recheckAttemptClean(Bracket(0.06, 0.06), floor, 2.0,
      Bracket(0.659, 0.40), ioFloor, 2.0))
  }

  test("aging ratio: last kept round's wall over the first kept round's") {
    // rounds 2 and 3 dirty (dropped): a steal burst mid-run must not
    // read as JVM aging — the slope stands on kept rounds only
    val walls = Seq(100.0, 300.0, 280.0, 130.0)
    val kept = Seq(true, false, false, true)
    assert(Bench.agingRatio(walls, kept).contains(1.3))
    // fewer than two kept rounds: no slope to speak of
    assert(Bench.agingRatio(Seq(100.0), Seq(true)).isEmpty)
    assert(Bench.agingRatio(walls, Seq(false, true, false, false)).isEmpty)
    // zero/negative walls (empty query set) never divide
    assert(Bench.agingRatio(Seq(0.0, 0.0), Seq(true, true)).isEmpty)
  }

  test("recheck backoff doubles from base and caps (round-13 hardening)") {
    import graft.Bench.backoffMs
    assert(backoffMs(1, 10000, 120000) == 10000)
    assert(backoffMs(2, 10000, 120000) == 20000)
    assert(backoffMs(3, 10000, 120000) == 40000)
    assert(backoffMs(4, 10000, 120000) == 80000)
    assert(backoffMs(5, 10000, 120000) == 120000, "cap must bind")
    assert(backoffMs(40, 10000, 120000) == 120000, "huge attempt: no overflow")
    assert(backoffMs(0, 10000, 120000) == 10000, "degenerate attempt index")
  }

  test("recheck retry outwaits a multi-minute steal window (the round-12 failure)") {
    import graft.Bench.{backoffMs, retryUntilClean}
    // synthetic machine: a steal burst covering the first 140 seconds of
    // the recheck; an attempt is clean iff it starts after the burst
    var clock = 0L
    val stealUntilMs = 140000L
    val attempt: Int => (Long, Boolean) = _ => {
      val at = clock
      clock += 2000 // each attempt itself takes ~2 s
      (at, at >= stealUntilMs)
    }
    // the ROUND-12 configuration — 3 attempts, fixed 5 s pause — can
    // never reach the far side of the burst: total settle 10 s
    val old = retryUntilClean(3, 5000, 5000, ms => clock += ms, attempt)
    assert(old.size == 3 && old.forall(!_._2),
      "fixed 5s x 3 must fail against a 140s burst (the documented gap)")
    // the round-13 default schedule (5 attempts, 10 s base doubling,
    // 120 s cap) sleeps 10+20+40+80 = 150 s cumulative and lands its
    // last attempt past the burst
    clock = 0L
    val now = retryUntilClean(5, 10000, 120000, ms => clock += ms, attempt)
    assert(now.last._2, "default schedule must outwait the 140s burst")
    assert(now.size <= 5)
    // and a clean first attempt never sleeps at all
    clock = stealUntilMs
    val quick = retryUntilClean(5, 10000, 120000,
      ms => fail(s"slept ${ms}ms before a clean first attempt"), attempt)
    assert(quick.size == 1 && quick.head._2)
    // the schedule the loop sleeps is exactly backoffMs(i)
    assert((1 to 4).map(backoffMs(_, 10000, 120000)).sum == 150000L)
  }

  test("two-canary recheck rule: an io-bound key is dirty unless the io bracket sits under the STRICT multiple") {
    import graft.Bench.{recheckKeyDirty, recheckAttemptSettled}
    val ioFloor = Some(0.33)
    val strict = 1.35 // the committed `io clean threshold:` value
    // the round-13 mis-rule, reproduced: base gate passed (CPU clean,
    // io under the loose 2.0x) but io read 1.5-1.7x the floor — an
    // io-bound key measured there is NOT evidence...
    val r13io = Bracket(0.553, 0.482)
    assert(recheckKeyDirty(baseClean = true, ioBound = true, r13io, ioFloor, strict),
      "an io-1.68x window must not rule a write-heavy query")
    // ...while a CPU-bound key in the SAME attempt adjudicates fine
    assert(!recheckKeyDirty(baseClean = true, ioBound = false, r13io, ioFloor, strict))
    // a genuinely quiet disk (1.0-1.3x, the committed clean-window
    // range) passes the strict bar for io-bound keys too
    assert(!recheckKeyDirty(baseClean = true, ioBound = true,
      Bracket(0.40, 0.42), ioFloor, strict))
    // strict just above the bar (0.446/0.33 = 1.352x) is dirty
    assert(recheckKeyDirty(baseClean = true, ioBound = true,
      Bracket(0.446, 0.40), ioFloor, strict))
    // a failed base gate dirties every key, io-bound or not
    assert(recheckKeyDirty(baseClean = false, ioBound = false, Bracket(0.34, 0.34),
      ioFloor, strict))
    // no committed io floor: the strict dimension cannot be judged, passes
    assert(!recheckKeyDirty(baseClean = true, ioBound = true, Bracket(9.0, 9.0),
      None, strict))
    // the retry loop keeps going while an io-bound key is in the set and
    // the strict bar is missed — and settles immediately when no
    // io-bound key needs the stricter window
    assert(!recheckAttemptSettled(baseClean = true, anyIoBound = true,
      r13io, ioFloor, strict))
    assert(recheckAttemptSettled(baseClean = true, anyIoBound = false,
      r13io, ioFloor, strict))
    assert(recheckAttemptSettled(baseClean = true, anyIoBound = true,
      Bracket(0.40, 0.42), ioFloor, strict))
    assert(!recheckAttemptSettled(baseClean = false, anyIoBound = false,
      Bracket(0.06, 0.06), ioFloor, strict))
  }

  test("recheck keep rule: an unjudgeable dimension (no committed floor) passes, like cleanFlags") {
    import graft.Bench.recheckAttemptClean
    assert(recheckAttemptClean(Bracket(9.0, 9.0), None, 2.0,
      Bracket(9.0, 9.0), None, 2.0))
    assert(recheckAttemptClean(Bracket(0.06, 0.06), floor, 2.0,
      Bracket(9.0, 9.0), Some(0.0), 2.0),
      "a zero io floor cannot be judged against")
    // but a judgeable CPU bracket still gates alone
    assert(!recheckAttemptClean(Bracket(0.30, 0.30), floor, 2.0,
      Bracket(0.40, 0.40), None, 2.0))
  }
}
