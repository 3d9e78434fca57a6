"""Seeded inputs: synthetic TPC-H-ish tables plus an events stream, and the
op plans (op logs) of the three workloads.

Everything here is a pure function of the seed: the same seed gives the
same parquet contents and a byte-identical op log. Sizes are fixed
constants, so two seeds differ only in keys, ranges and batch boundaries.
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
EPOCH = dt.datetime(1970, 1, 1)

# analytics scale: lineitem rows; other tables follow TPC-H ratios
ANALYTICS_LINEITEM = 30_000
WARMUP_LINEITEM = 2_000
SERVE_LINEITEM = 30_000
INGEST_EVENTS_PER_DAY = 1_200

# op-plan shape at NOMINAL_SECONDS (fixed counts; the seed only picks keys
# and boundaries). Loop op counts scale linearly with --seconds.
NOMINAL_SECONDS = 12
INGEST_APPENDS = 20
INGEST_ROWLEVEL_EVERY = 4        # one row-level op after every 4th append
INGEST_COMPACT_EVERY = 16
INGEST_EXPIRE_EVERY = 20
INGEST_WARMUP_APPENDS = 2
SERVE_BUILD_APPENDS = 3
SERVE_POINT = 17                 # head point lookups through GraftTable.scan
SERVE_POINT_SQL = 3
SERVE_POINT_TAG = 3              # each paired with a head lookup of its key
SERVE_RANGE_KEY = 1
SERVE_RANGE_DATE = 1
SERVE_FULL = 1
SERVE_FILES = 1


# a median needs ten samples beyond it, so the headline class never shrinks
# below this many ops
MIN_HEADLINE = 20


def scaled(n, seconds):
    return max(1, int(round(n * seconds / float(NOMINAL_SECONDS))))

ROWLEVEL_KINDS = ("posdel", "dvdel", "eqdel", "update", "merge")


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def ts_literal(us):
    """SQL timestamp literal both Spark and DuckDB parse identically."""
    d = EPOCH + dt.timedelta(microseconds=us)
    return "TIMESTAMP '%s'" % d.strftime("%Y-%m-%d %H:%M:%S.%f")


def _ts_array(us):
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed, lineitem_rows):
    """The eight star-schema tables with the value domains the repository's
    operator keys filter on. Returns {name: pyarrow.Table}."""
    rng = np.random.default_rng([seed, lineitem_rows])
    n_orders = lineitem_rows // 4
    n_cust = max(lineitem_rows // 40, 30)
    n_part = max(lineitem_rows // 30, 40)
    n_supp = max(lineitem_rows // 600, 10)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    d0 = _us(dt.datetime(1995, 1, 1))
    odate = d0 + rng.integers(0, 2404, n_orders) * DAY_US
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts_array(odate),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, n_orders)]})
    okey = rng.integers(0, n_orders, lineitem_rows)
    ship = odate[okey] + rng.integers(1, 122, lineitem_rows) * DAY_US
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, lineitem_rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, lineitem_rows), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitem_rows), pa.int32()),
        "l_quantity": rng.integers(1, 51, lineitem_rows).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, lineitem_rows),
        "l_discount": rng.integers(0, 11, lineitem_rows) / 100.0,
        "l_tax": rng.integers(0, 9, lineitem_rows) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, lineitem_rows)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, lineitem_rows)],
        "l_shipdate": _ts_array(ship)})
    ev = max(lineitem_rows // 6, 500)
    t["events"] = events_table(seed, ev)
    return t


def events_table(seed, rows, days=EVENTS_DAYS):
    """A time-ordered click stream over `days` days."""
    rng = np.random.default_rng([seed, rows, 7])
    start = _us(EVENTS_START)
    ts = np.sort(start + rng.integers(0, days * DAY_US, rows))
    kinds = ["click", "error", "purchase", "signup", "view"]
    return pa.table({
        "event_id": pa.array(range(rows), pa.int64()),
        "ts": _ts_array(ts),
        "user_id": pa.array(rng.integers(0, 150, rows), pa.int64()),
        "event_type": [kinds[i] for i in rng.integers(0, 5, rows)],
        "value": _money(rng, 0.01, 490.0, rows),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, rows)]})


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, name + ".parquet"))


def write_plan(ops, path):
    """One JSON object per line, keys sorted: the op log is byte-stable."""
    with open(path, "w") as f:
        for op in ops:
            f.write(json.dumps(op, sort_keys=True, separators=(",", ":")) + "\n")


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def _batch_bounds(rng, n_rows, n_batches):
    """Contiguous, time-ordered batch boundaries with seeded jitter: every
    batch is about 1/n_batches of the stream, so it spans 1-2 day
    partitions."""
    step = n_rows / n_batches
    cuts = [0]
    for i in range(1, n_batches):
        cuts.append(int(i * step + rng.uniform(-0.1, 0.1) * step))
    cuts.append(n_rows)
    return list(zip(cuts[:-1], cuts[1:]))


def _rowlevel(kind, rng, ts, users, hi, next_id):
    """One row-level op on keys of the two days before row `hi`."""
    t_hi = int(ts[hi - 1]) + 1
    t_lo = max(int(ts[0]), t_hi - 2 * DAY_US)
    recent = [j for j in range(max(0, hi - 3000), hi) if ts[j] >= t_lo]
    rng.shuffle(recent)
    if kind in ("posdel", "dvdel", "update"):
        cond = "user_id = %d AND ts >= %s AND ts < %s" % (
            int(users[recent[0]]), ts_literal(t_lo), ts_literal(t_hi))
        op = {"op": kind, "cond": cond}
        if kind == "update":
            op["set"] = {"value": "value + 1.5"}
        return op
    if kind == "eqdel":
        return {"op": kind, "event_ids": sorted(int(k) for k in recent[:20])}
    rows = [{"event_id": j, "ts": int(ts[j]), "user_id": int(users[j]),
             "event_type": "purchase", "value": "%.2f" % rng.uniform(1, 500),
             "props": '{"k": -1}'} for j in sorted(recent[:8])]
    rows += [{"event_id": next_id + i, "ts": rng.randrange(t_lo, t_hi),
              "user_id": rng.randrange(150), "event_type": "view",
              "value": "%.2f" % rng.uniform(1, 500), "props": '{"k": -2}'}
             for i in range(4)]
    return {"op": "merge", "rows": rows}


def ingest_days(seconds):
    """Days of events the ingest stream spans: one per append, plus one."""
    return max(MIN_HEADLINE, scaled(INGEST_APPENDS, seconds)) + 1


def ingest_events(seed, seconds=NOMINAL_SECONDS):
    days = ingest_days(seconds)
    return events_table(seed, INGEST_EVENTS_PER_DAY * days, days)


def ingest_plan(seed, events, seconds=NOMINAL_SECONDS):
    """Append batches of the stream in time order; after every
    INGEST_ROWLEVEL_EVERY-th append one row-level op (kinds cycle in a fixed
    order) hits keys of the last two days appended, and compaction and
    snapshot expiry run at fixed intervals. The warm-up runs every op kind
    once on the first rows. Returns (warm-up ops, loop ops)."""
    rng = random.Random(seed * 1_000_003 + 11)
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    users = events.column("user_id").to_numpy()
    n = len(ts)
    w = n // 20
    warm = [{"op": "append", "lo": lo, "hi": hi}
            for lo, hi in _batch_bounds(rng, w, INGEST_WARMUP_APPENDS)]
    warm += [_rowlevel(k, rng, ts, users, w, 9_000_000) for k in ROWLEVEL_KINDS]
    warm += [{"op": "compact"}, {"op": "expire", "retain_last": 5}]
    # every batch is one day of the stream starting at the same seeded time
    # of day, so each append touches exactly two day partitions
    start = _us(EVENTS_START) + int(rng.uniform(0.25, 0.75) * DAY_US)
    cuts = [int(np.searchsorted(ts, start + i * DAY_US)) for i in range(ingest_days(seconds))]
    ops = []
    kind_i = 0
    for i, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
        ops.append({"op": "append", "lo": lo, "hi": hi})
        if (i + 1) % INGEST_ROWLEVEL_EVERY == 0:
            kind = ROWLEVEL_KINDS[kind_i % len(ROWLEVEL_KINDS)]
            ops.append(_rowlevel(kind, rng, ts, users, hi, 10_000_000 + 4 * kind_i))
            kind_i += 1
        if (i + 1) % INGEST_COMPACT_EVERY == 0:
            ops.append({"op": "compact"})
        if (i + 1) % INGEST_EXPIRE_EVERY == 0:
            ops.append({"op": "expire", "retain_last": 5})
    return warm, ops


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

def serve_plan(seed, lineitem, seconds=NOMINAL_SECONDS):
    """Build a bucketed table by SERVE_BUILD_APPENDS appends, tag it, lay a
    fixed merge-on-read backlog (one position delete, one deletion vector,
    one equality delete), then a fixed, seed-shuffled read mix.
    Returns (build ops, read ops)."""
    rng = random.Random(seed * 1_000_003 + 23)
    n = lineitem.num_rows
    okeys = lineitem.column("l_orderkey").to_numpy()
    ship = lineitem.column("l_shipdate").cast(pa.int64()).to_numpy()
    max_key = int(okeys.max())
    build = [{"op": "append", "lo": lo, "hi": hi}
             for lo, hi in _batch_bounds(rng, n, SERVE_BUILD_APPENDS)]
    build.append({"op": "tag", "name": "pre"})
    supp = int(lineitem.column("l_suppkey").to_numpy().max()) + 1
    parts = sorted(set(int(x) for x in lineitem.column("l_partkey").to_numpy()))
    build.append({"op": "posdel", "cond": "l_suppkey = %d" % rng.randrange(supp)})
    build.append({"op": "dvdel", "cond": "l_partkey = %d" % rng.choice(parts)})
    eq = sorted(set(int(okeys[rng.randrange(n)]) for _ in range(30)))
    build.append({"op": "eqdel", "l_orderkeys": eq})

    def key():
        return int(okeys[rng.randrange(n)])

    reads = []
    n_tag = scaled(SERVE_POINT_TAG, seconds)
    n_point = max(MIN_HEADLINE - n_tag, scaled(SERVE_POINT, seconds))
    reads += [{"op": "point", "key": key()} for _ in range(n_point)]
    reads += [{"op": "point_sql", "key": key()} for _ in range(scaled(SERVE_POINT_SQL, seconds))]
    tag_keys = [key() for _ in range(n_tag)]
    reads += [{"op": "point_tag", "key": k} for k in tag_keys]
    # mor.read_ms pairs every tag lookup with a head lookup of the same key
    reads += [{"op": "point", "key": k, "pair": True} for k in tag_keys]
    # ranges start in the middle 80% of each domain, where the data is
    # uniform, so every seed's range holds about as many rows
    for _ in range(scaled(SERVE_RANGE_KEY, seconds)):
        lo = max_key // 10 + rng.randrange(max_key * 8 // 10)
        reads.append({"op": "range_key", "lo": lo, "hi": lo + max_key // 200})
    d_lo, d_hi = int(ship.min()), int(ship.max())
    days = (d_hi - d_lo) // DAY_US
    for _ in range(scaled(SERVE_RANGE_DATE, seconds)):
        a = d_lo + (days // 10 + rng.randrange(days * 8 // 10)) * DAY_US
        reads.append({"op": "range_date", "lo": ts_literal(a),
                      "hi": ts_literal(a + 14 * DAY_US)})
    reads += [{"op": "full"} for _ in range(scaled(SERVE_FULL, seconds))]
    reads += [{"op": "full_tag"} for _ in range(scaled(SERVE_FULL, seconds))]
    reads += [{"op": "files"} for _ in range(scaled(SERVE_FILES, seconds))]
    rng.shuffle(reads)
    return build, reads


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

def analytics_passes(seconds):
    """Passes over the key set; the JVM shuffles the keys by seed."""
    return scaled(1, seconds)
