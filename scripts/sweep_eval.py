#!/usr/bin/env python3
"""Round-15 sub-second floor-sweep evaluator (VERDICT r14 item 3).

Reads two isolated bench windows (JSON lines from graft.Bench over the
sweep key set), applies the batch re-floor rule — a key re-floors when
its CLEAN-window medians exceed the threshold multiple of its committed
floor in BOTH windows — and prints the two-column re-floor table plus
the per-window evidence line. Floors come from floors.json (run from the
repo root); a re-floor writes the new values there. q_sql_ctas re-floors
unconditionally (its committed round-14 trigger already fired).

Usage: sweep_eval.py windowA.json windowB.json [threshold=1.8]
"""
import json, sys

def floors(path="floors.json"):
    """The committed per-key floors, the same file graft.Bench reads."""
    return json.load(open(path))["floors"]

def load(path):
    for line in open(path):
        line = line.strip()
        if line.startswith('{"metric"'):
            return json.loads(line)
    raise SystemExit(f"no metric line in {path}")

def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.8
    fl = floors()
    forced = {"q_sql_ctas"}
    rows = []
    for k in sorted(a["queries"]):
        if k not in b["queries"] or k not in fl:
            continue
        va, vb = a["queries"][k], b["queries"][k]
        if va <= 0 or vb <= 0:
            print(f"!! {k} failed in a window: {va} {vb}", file=sys.stderr)
            continue
        ra, rb = va / fl[k], vb / fl[k]
        if (ra > thr and rb > thr) or k in forced:
            rows.append((k, va, vb, fl[k], ra, rb))
    for w, name in ((a, "A"), (b, "B")):
        print(f"window {name}: kept {w['rounds_kept']}/{w['rounds_total']}, "
              f"canary {w.get('canary_ratio')}x, io {w.get('io_ratio')}x, "
              f"sched {w.get('sched_ratio')}x, "
              f"median_ratio {w['vs_floor']['median_ratio'] if w.get('vs_floor') else None}")
    print(f"\n{len(rows)} keys re-floor (> {thr}x in both windows, or forced):\n")
    print("| query | runA_median (s) | runB_median (s) |")
    print("|---|---|---|")
    for k, va, vb, f, ra, rb in rows:
        print(f"| {k} | {va:.3f} | {vb:.3f} |")
    print("\nevidence (old floor -> new, ratios):")
    for k, va, vb, f, ra, rb in rows:
        print(f"  {k:28s} {f:5.3f} -> {min(va, vb):5.3f}  (A {ra:.2f}x, B {rb:.2f}x)")
    held = [(k, a['queries'][k]/fl[k], b['queries'][k]/fl[k])
            for k in sorted(a['queries'])
            if k in fl and k in b['queries'] and a['queries'][k] > 0
            and b['queries'][k] > 0
            and not ((a['queries'][k]/fl[k] > thr and b['queries'][k]/fl[k] > thr)
                     or k in forced)]
    over_one = [x for x in held if max(x[1], x[2]) > thr]
    print(f"\n{len(held)} keys HOLD their floors "
          f"({len(over_one)} exceeded {thr}x in one window only):")
    for k, ra, rb in over_one:
        print(f"  {k:28s} A {ra:.2f}x, B {rb:.2f}x")

if __name__ == "__main__":
    main()
