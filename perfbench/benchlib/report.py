"""Turns one run's op results, summary and spans into the end-to-end and
per-layer metrics. End-to-end figures come from the untraced loop only."""
from collections import defaultdict

from . import stats

# the op class whose latency is the workload's headline percentile
HEADLINE = {"ingest": "append", "serve": "point", "analytics": "query"}
# ops summed into heavy_s: the fixed secondary sequence of each workload
HEAVY = {"ingest": {"posdel", "dvdel", "eqdel", "update", "merge"},
         "serve": {"range_key", "range_date", "full", "full_tag", "files"},
         "analytics": {"query"}}
MAINT = {"compact", "expire"}
COMMIT_KINDS = {"append": "append", "posdel": "delete", "dvdel": "delete",
                "eqdel": "delete", "update": "update", "merge": "merge"}
MODULES = ("Analytics", "AnalyticsDeep")
# a phase's wall time grows by this many times its steal share: fitted on
# the 4-vCPU VM the bounds were set on (see README.md)
STEAL_GAIN = 2.4
UNITS = {"setup_s": "s", "op_ms_p50": "ms", "ops_per_s": "1/s", "heavy_s": "s",
         "heap_live_mb": "MB"}

PER_LAYER = (
    [("meta.read_ms", "ms"), ("meta.json_bytes", "bytes"), ("meta.version_files", "count"),
     ("meta.manifest_read_ms", "ms"), ("meta.segments", "count"), ("meta.entries", "count"),
     ("prune.ms", "ms"), ("prune.files_live", "count"), ("prune.files_planned", "count"),
     ("prune.precision", "ratio"),
     ("scan.build_ms", "ms"), ("scan.listing_ms", "ms"), ("plan.analysis_ms", "ms"),
     ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"), ("sql.resolve_ms", "ms"),
     ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
     ("exec.tasks", "count"), ("exec.task_wait_ms", "ms"), ("exec.executor_run_ms", "ms"),
     ("exec.executor_cpu_ms", "ms"), ("exec.input_bytes", "bytes"),
     ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
     ("exec.spill_bytes", "bytes"),
     ("mor.delete_files_live.posdel", "count"), ("mor.delete_files_live.dv", "count"),
     ("mor.delete_files_live.eqdel", "count"), ("mor.read_ms", "ms"),
     ("commit.append_ms", "ms"), ("commit.delete_ms", "ms"), ("commit.update_ms", "ms"),
     ("commit.merge_ms", "ms"), ("commit.spark_ms", "ms"), ("commit.driver_ms", "ms"),
     ("commit.data_bytes", "bytes"), ("commit.delete_bytes", "bytes"),
     ("commit.meta_bytes", "bytes"), ("commit.files_added", "count"),
     ("commit.conflicts", "count"),
     ("maint.compact_ms", "ms"), ("maint.bytes_rewritten", "bytes"),
     ("maint.expire_ms", "ms"), ("maint.files_removed", "count")]
    + [("ops.%s.%s" % (m, k), u) for m in MODULES
       for k, u in (("ms", "ms"), ("shuffle_bytes", "bytes"), ("stages", "count"))]
    + [("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
       ("trace.overhead_s", "s"), ("trace.point_gap_share", "ratio")])


def attach(spans):
    """Give listener spans (jobs, plan phases: no parent) the innermost
    client span that contains their start, and their op id."""
    client = [s for s in spans if not s["name"].startswith(("exec.job", "plan."))]
    for s in spans:
        if s in client:
            continue
        best = None
        for c in client:
            if c["start"] <= s["start"] <= c["end"] and \
                    (best is None or c["end"] - c["start"] < best["end"] - best["start"]):
                best = c
        if best is not None:
            s["parent"], s["op"] = best["id"], best["op"]
            # listener clocks are millisecond-grained; clip into the parent
            s["start"], s["end"] = max(s["start"], best["start"]), min(s["end"], best["end"])
    return spans


def steal_factor(share):
    """The share of a phase's wall time the host's other guests did not
    cause: 1 with no steal. Multiplying a time by it gives the time on a
    quiet host."""
    return 1.0 if share is None else max(0.1, 1.0 - STEAL_GAIN * share)


def raw_end_to_end(workload, summary, results):
    """The end-to-end figures as measured, from the untraced loop."""
    loop = [r for r in results if r["pass"] == "untraced"]
    head = [r["ms"] for r in loop if r["kind"] == HEADLINE[workload]]
    return {
        "setup_s": summary["setup_s"],
        "op_ms_p50": stats.percentile(head, 50),
        "ops_per_s": len(loop) / summary["loop_s"],
        "heavy_s": sum(r["ms"] for r in loop if r["kind"] in HEAVY[workload]) / 1000.0,
        "heap_live_mb": summary["heap_live_mb"],
    }


def end_to_end(workload, summary, results):
    """End-to-end figures on a quiet host: set-up time is multiplied by the
    steal factor of set-up, loop times by that of the loop and the loop
    rate divided by it, so other guests' load on a shared host does not
    read as a regression. The raw figures are printed as text beside
    them."""
    s, f = steal_factor(summary["setup_steal"]), steal_factor(summary["loop_steal"])
    raw = raw_end_to_end(workload, summary, results)
    scale = {"setup_s": s, "op_ms_p50": f, "heavy_s": f, "ops_per_s": 1.0 / f,
             "heap_live_mb": 1.0}
    return {k: (v * scale[k], UNITS[k]) for k, v in raw.items()}


def workload_figures(workload, summary, results, user_bytes):
    """The workload-specific end-to-end figures, raw, printed as text."""
    loop = [r for r in results if r["pass"] == "untraced"]
    ms = defaultdict(list)
    for r in loop:
        ms[r["kind"]].append(r["ms"])
    f = {}
    if workload == "ingest":
        f["append_ms_p50"] = stats.percentile(ms["append"], 50)
        f["append_ms_tail"] = stats.tail(ms["append"])
        f["rowlevel_s"] = sum(sum(ms[k]) for k in HEAVY["ingest"]) / 1000.0
        f["maintenance_s"] = sum(sum(ms[k]) for k in MAINT) / 1000.0
        f["ingest_ops_per_s"] = len(loop) / summary["loop_s"]
        if user_bytes:
            f["bytes_per_user_byte"] = summary["table_bytes"] / float(user_bytes)
    elif workload == "serve":
        f["point_ms_p50"] = stats.percentile(ms["point"], 50)
        f["point_ms_tail"] = stats.tail(ms["point"])
        f["scan_s"] = sum(sum(ms[k]) for k in HEAVY["serve"]) / 1000.0
        f["serve_ops_per_s"] = len(loop) / summary["loop_s"]
        if user_bytes:
            f["bytes_per_user_byte"] = summary["table_bytes"] / float(user_bytes)
    else:
        f["analytics_s"] = sum(ms["query"]) / 1000.0
    f["heap_live_mb"] = summary["heap_live_mb"]
    f["loop_s"] = summary["loop_s"]
    f["loop_cpu_s"] = summary["loop_cpu_s"]
    f["setup_steal"] = summary["setup_steal"]
    f["loop_steal"] = summary["loop_steal"]
    for k, v in raw_end_to_end(workload, summary, results).items():
        if k != "heap_live_mb":
            f[k + "_raw"] = v
    return f


def per_layer(workload, summary, results, spans):
    traced = [r for r in results if r["pass"] == "traced"]
    untraced = [r for r in results if r["pass"] == "untraced"]
    spans = attach(spans)
    loop_spans = [s for s in spans if s["op"] >= 0 and not s["probe"]]
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    m = {k: 0.0 for k, _ in PER_LAYER}

    def span_ms(name):
        return sum(s["end"] - s["start"] for s in by_name[name]) / 1000.0

    # metadata plane and pruning (probes made just before each read)
    m["meta.read_ms"] = span_ms("meta.read")
    m["meta.manifest_read_ms"] = span_ms("meta.manifest_read")
    m["prune.ms"] = span_ms("prune")
    probed = [r for r in traced if "meta_entries" in r]
    head = [r for r in probed if r["meta_ref"] == "main"]
    if head:
        # the metadata plane at head as the loop's last probe saw it
        last = head[-1]
        for k in ("json_bytes", "version_files", "segments", "entries"):
            m["meta." + k] = last["meta_" + k]
        m["prune.files_live"] = last["prune_files_live"]
        # the deepest delete backlog an op of the loop read at head
        for kind in ("posdel", "dv", "eqdel"):
            m["mor.delete_files_live." + kind] = max(r["deletes_" + kind] for r in head)
    if probed:
        m["prune.files_planned"] = sum(r["prune_files_planned"] for r in probed) / len(probed)
    hits = [r for r in traced if "prune_files_hit" in r]
    planned = sum(r["prune_files_planned"] for r in hits)
    if planned:
        m["prune.precision"] = sum(r["prune_files_hit"] for r in hits) / float(planned)

    # Spark planning
    m["scan.build_ms"] = sum(s["end"] - s["start"] for s in loop_spans
                             if s["name"] in ("scan.build", "query.build")) / 1000.0
    m["scan.listing_ms"] = max(0.0, m["scan.build_ms"] - m["meta.read_ms"]
                               - m["meta.manifest_read_ms"] - m["prune.ms"])
    for phase in ("analysis", "optimization", "planning"):
        m["plan.%s_ms" % phase] = sum(s["end"] - s["start"] for s in by_name["plan." + phase]
                                      if s["op"] >= 0) / 1000.0
    m["sql.resolve_ms"] = span_ms("sql.resolve")

    # Spark execution, per loop op from the listener
    per_op = summary.get("exec_per_op", {})
    loop_ops = {str(r["id"]) for r in traced}
    for k in ("jobs", "stages", "tasks", "task_wait_ms", "executor_run_ms",
              "executor_cpu_ms", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m["exec." + k] = sum(v.get(k, 0.0) for op, v in per_op.items() if op in loop_ops)
    jobs_by_op = defaultdict(list)
    for s in by_name["exec.job"]:
        if s["op"] >= 0:
            jobs_by_op[s["op"]].append((s["start"], s["end"]))
    m["exec.ms"] = sum(stats.union_length(v) for v in jobs_by_op.values()) / 1000.0

    # merge-on-read delete application: head minus tag lookup, same keys
    pair_head = [r["ms"] for r in untraced if r["kind"] == "point" and r.get("pair")]
    tag_ms = [r["ms"] for r in untraced if r["kind"] == "point_tag"]
    if pair_head and tag_ms:
        m["mor.read_ms"] = stats.median(pair_head) - stats.median(tag_ms)

    # commit path and maintenance
    for r in traced:
        kind = r["kind"]
        if kind in COMMIT_KINDS:
            m["commit.%s_ms" % COMMIT_KINDS[kind]] += r["ms"]
            spark_ms = stats.union_length(jobs_by_op.get(r["id"], [])) / 1000.0
            m["commit.spark_ms"] += spark_ms
            m["commit.driver_ms"] += r["ms"] - spark_ms
            for k in ("data_bytes", "delete_bytes", "meta_bytes", "files_added"):
                m["commit." + k] += r.get(k, 0)
            if "conflict" in r.get("error", "").lower():
                m["commit.conflicts"] += 1
        elif kind == "compact":
            m["maint.compact_ms"] += r["ms"]
            m["maint.bytes_rewritten"] += r.get("data_bytes", 0)
        elif kind == "expire":
            m["maint.expire_ms"] += r["ms"]
            m["maint.files_removed"] += max(0, -r.get("files_added", 0))

    # operator modules: the analytics loop, or the serve run's layer pass
    for r in results:
        if "module" in r and r["pass"] in ("traced", "ops"):
            v = per_op.get(str(r["id"]), {})
            m["ops.%s.ms" % r["module"]] += r["ms"]
            m["ops.%s.shuffle_bytes" % r["module"]] += v.get("shuffle_read_bytes", 0.0)
            m["ops.%s.stages" % r["module"]] += v.get("stages", 0.0)

    m["jvm.gc_ms"] = summary.get("traced_gc_ms", 0)
    m["jvm.heap_peak_mb"] = summary.get("traced_heap_peak_mb", 0)
    m["trace.overhead_s"] = summary.get("traced_loop_s", 0) - summary["loop_s"]
    m["trace.point_gap_share"] = point_gap_share(spans)
    return m


def point_gap_share(spans):
    """Largest share of a traced point lookup's wall time that none of its
    scan.build, plan and exec spans covers (0 when there are none)."""
    kids = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            kids[s["parent"]].append(s)

    def covered(s):
        out = []
        for c in kids[s["id"]]:
            out.append(c)
            out.extend(covered(c))
        return out
    worst = 0.0
    for s in spans:
        if s["name"] == "op.point" and s["end"] > s["start"]:
            gap = stats.largest_gap(s, covered(s))
            worst = max(worst, gap / float(s["end"] - s["start"]))
    return worst


def build(workload, summary, results, spans, traced, user_bytes=0):
    rep = {"end_to_end": end_to_end(workload, summary, results),
           "figures": workload_figures(workload, summary, results, user_bytes)}
    if traced:
        units = dict(PER_LAYER)
        rep["per_layer"] = {k: (v, units[k]) for k, v in
                            per_layer(workload, summary, results, spans).items()}
        rep["rollup"] = stats.rollup([s for s in spans if s["op"] >= 0])
        rep["overhead"] = (summary["loop_s"], summary.get("traced_loop_s"))
    return rep


def describe(rep):
    lines = ["%-28s %s" % (k, _fmt(v)) for k, v in rep["figures"].items()]
    lines += ["%-28s %s" % (k, _fmt(v)) for k, (v, _) in rep["end_to_end"].items()]
    if "rollup" in rep:
        lines.append("per-span self time (ms) and count, traced loop:")
        for k, v in sorted(rep["rollup"].items()):
            lines.append("  %-26s %10.1f %6d" % (k, v["self"] / 1000.0, v["count"]))
        u, t = rep["overhead"]
        lines.append("tracing overhead: untraced loop %.3f s, traced loop %.3f s, "
                     "overhead %.3f s (%.1f%%)" % (u, t, t - u, 100.0 * (t - u) / u))
    return lines


def _fmt(v):
    return "n/a" if v is None else ("%.4f" % v if isinstance(v, float) else str(v))
