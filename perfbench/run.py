#!/usr/bin/env python3
"""Lakehouse benchmark for graft: one closed-loop client drives one
workload (ingest, serve or analytics) through graft's public API in one
local[nproc] Spark JVM, checks every result against DuckDB, and prints one
JSON line of metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds graft and the
benchmark from source with sbt (into .bench_build, or $CARGO_TARGET_DIR);
later runs reuse the build while the sources are unchanged. With
--trace 1 the run repeats its loop traced and prints the per-layer
metrics instead of the end-to-end ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import gen, oracle, report, rowhash  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "serve", "analytics")
JVM_TIMEOUT_S = 160
# table builds per run, median reported: creating the ingest table is
# cheap, one build of the serve table costs ~10 s, analytics builds none
SETUP_REPS = {"ingest": 3, "serve": 1, "analytics": 1}
BUILD_TIMEOUT_S = 800
ANALYTICS_TABLES = ("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout kill
    the whole group (sbt and its JVM, or the benchmark JVM) and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise SystemExit("perfbench: %s timed out after %d s" % (cmd[0], timeout))
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def source_fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile graft and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    fp_file = os.path.join(build_dir, "fingerprint.txt")
    fp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark with sbt")
    t = time.time()
    p = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                  BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                  stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    log("build took %.1f s" % (time.time() - t))
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    return lines[-1].strip()


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def _utc(tbl, col):
    """Batch files carry UTC-adjusted timestamps, so Spark reads them as
    TIMESTAMP (not TIMESTAMP_NTZ) and they append to a TIMESTAMP column."""
    i = tbl.schema.get_field_index(col)
    return tbl.set_column(i, col, tbl.column(col).cast(pa.timestamp("us", "UTC")))


def prepare_ingest(seed, seconds, data):
    events = gen.ingest_events(seed, seconds)
    warm, ops = gen.ingest_plan(seed, events, seconds)
    bdir = os.path.join(data, "ingest")
    os.makedirs(bdir, exist_ok=True)
    utc = _utc(events, "ts")
    n = 0
    for op in warm + ops:
        if op["op"] == "append":
            op["file"] = "b%03d.parquet" % n
            pq.write_table(utc.slice(op["lo"], op["hi"] - op["lo"]),
                           os.path.join(bdir, op["file"]))
            n += 1
    gen.write_plan(warm, os.path.join(bdir, "warmup.jsonl"))
    gen.write_plan(ops, os.path.join(bdir, "ops.jsonl"))
    return {"events": events, "ops": ops}


def prepare_serve(seed, seconds, data):
    lineitem = gen.tpch_tables(seed, gen.SERVE_LINEITEM)["lineitem"]
    build_ops, reads = gen.serve_plan(seed, lineitem, seconds)
    sdir = os.path.join(data, "serve")
    os.makedirs(sdir, exist_ok=True)
    utc = _utc(lineitem, "l_shipdate")
    for i, op in enumerate(o for o in build_ops if o["op"] == "append"):
        op["file"] = "b%03d.parquet" % i
        pq.write_table(utc.slice(op["lo"], op["hi"] - op["lo"]), os.path.join(sdir, op["file"]))
    gen.write_plan(build_ops, os.path.join(sdir, "build.jsonl"))
    gen.write_plan(reads, os.path.join(sdir, "reads.jsonl"))
    return {"lineitem": lineitem, "build": build_ops, "reads": reads}


def prepare_analytics(seed, seconds, data):
    gen.write_tables(gen.tpch_tables(seed, gen.ANALYTICS_LINEITEM), os.path.join(data, "analytics"))
    gen.write_tables(gen.tpch_tables(seed + 1, gen.WARMUP_LINEITEM), os.path.join(data, "warm"))
    return {}


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def check_ingest(inp, summary, out):
    """Final state against a DuckDB replay of the op log, read three ways:
    the writer's handle, a fresh load, and the independent reader."""
    want = oracle.ingest_replay(inp["events"], inp["ops"])
    got = {"final": summary.get("final_hash"), "reopen": summary.get("reopen_hash")}
    ext = os.path.join(out, "extreader.parquet")
    p = run_group([sys.executable, os.path.join(ROOT, "scripts", "extreader.py"),
                   summary["table_dir"], ext], 120, stdout=subprocess.PIPE,
                  stderr=subprocess.PIPE, text=True)
    got["extreader"] = rowhash.table_hash(pq.read_table(ext)) if p.returncode == 0 else \
        "error: " + p.stderr.strip()[-200:]
    return {k: (v == want, v, want) for k, v in got.items()}


def check_serve(inp, results):
    want = oracle.serve_expected(inp["lineitem"], inp["build"], inp["reads"])
    return [r.get("hash") == want[r["id"]] for r in results]


def check_analytics(data, results, out):
    sql = oracle.load_oracle_sql(os.path.join(out, "oracle_sql.json"))
    want = oracle.analytics_expected(os.path.join(data, "analytics"), ANALYTICS_TABLES, sql)
    oks = []
    for r in results:
        if "error" in r:
            oks.append(False)
        elif r["key"] in want:
            oks.append(r["hash"] == want[r["key"]])
        else:
            oks.append(r.get("rows", 0) > 0)
    return oks


def op_log_digest(workload, data, out):
    """SHA-256 of the run's op log files; equal seeds give equal digests."""
    names = {"ingest": ["ingest/warmup.jsonl", "ingest/ops.jsonl"],
             "serve": ["serve/build.jsonl", "serve/reads.jsonl"]}.get(workload)
    paths = [os.path.join(data, n) for n in names] if names else [os.path.join(out, "ops.jsonl")]
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def user_bytes(workload, data, inp):
    """Parquet bytes of the rows the loop (ingest) or the build (serve)
    appended."""
    ops = {"ingest": inp.get("ops"), "serve": inp.get("build")}.get(workload) or []
    return sum(os.path.getsize(os.path.join(data, workload, op["file"]))
               for op in ops if "file" in op)


# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=gen.NOMINAL_SECONDS)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("perfbench: run from a graft checkout (build.sbt and src/ missing)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    cp = build(build_dir)

    run_dir = os.path.join(build_dir, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    data, work, out = (os.path.join(run_dir, d) for d in ("data", "work", "out"))
    for d in (data, work, out, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    try:
        inp = {"ingest": prepare_ingest, "serve": prepare_serve,
               "analytics": prepare_analytics}[a.workload](a.seed, a.seconds, data)
        if a.workload == "serve" and a.trace:
            # the traced serve run also measures the graft.ops layer
            prepare_analytics(a.seed, a.seconds, data)
        cpus = str(len(os.sched_getaffinity(0)))
        cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
               + ["-Xmx3g", "-XX:ReservedCodeCacheSize=256m", "-Duser.timezone=UTC",
                  "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                  "-cp", cp, "perfbench.Main", a.workload, str(a.seed), data, work, out,
                  str(a.trace), cpus, str(SETUP_REPS[a.workload]),
                  str(gen.analytics_passes(a.seconds))])
        t = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            p = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
        log("jvm exited rc=%d after %.1f s" % (p.returncode, time.time() - t))
        summary_path = os.path.join(out, "summary.json")
        if not os.path.exists(summary_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit("perfbench: the JVM wrote no summary")
        with open(summary_path) as f:
            summary = json.load(f)
        results = read_jsonl(os.path.join(out, "results.jsonl"))

        if a.workload == "ingest":
            state = check_ingest(inp, summary, out)
            ok = [("error" not in r) for r in results] + [v[0] for v in state.values()]
            for k, (good, got, want) in state.items():
                if not good:
                    log("ingest %s state %s != replay %s" % (k, got, want))
        elif a.workload == "serve":
            ok = check_serve(inp, [r for r in results if r["pass"] != "ops"])
            # the operator-layer pass of a traced run comes last
            layer = [r for r in results if r["pass"] == "ops"]
            if layer:
                ok += check_analytics(data, layer, out)
        else:
            ok = check_analytics(data, results, out)
        for r, good in zip(results, ok):
            if not good:
                log("op %s %s failed: %s" % (r["id"], r["kind"],
                                             r.get("error") or r.get("key") or r.get("hash")))
        spans = read_jsonl(os.path.join(out, "spans.jsonl"))
        rep = report.build(a.workload, summary, results, spans, a.trace == 1,
                           user_bytes(a.workload, data, inp))
        for line in report.describe(rep):
            print(line)
        print("%-28s %.4f" % ("failed_ratio", sum(1 for x in ok if not x) / float(max(1, len(ok)))))
        print("%-28s %s" % ("op_log_sha256", op_log_digest(a.workload, data, out)))
        metrics = rep["per_layer"] if a.trace else rep["end_to_end"]
        print(json.dumps({"correct": all(ok), "attempted": len(ok),
                          "failed": sum(1 for x in ok if not x),
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
