"""Expected results, computed with DuckDB over the raw parquet inputs. None
of this shares code with the engine under test."""
import json
import os

import duckdb
import pyarrow as pa

from . import rowhash


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _hash(con, sql):
    return rowhash.table_hash(con.execute(sql).arrow())


def ingest_replay(events, warm_free_ops):
    """Replay the ingest op log on a plain DuckDB table and return the hash
    of the final state. `events` is the raw stream (naive timestamps);
    maintenance ops do not change rows."""
    con = _con()
    con.register("raw", events)
    con.execute("CREATE TABLE raw_n AS SELECT row_number() OVER () - 1 AS rn, * FROM raw")
    con.execute("CREATE TABLE t AS SELECT * EXCLUDE (rn) FROM raw_n WHERE false")
    for op in warm_free_ops:
        kind = op["op"]
        if kind == "append":
            con.execute("INSERT INTO t SELECT * EXCLUDE (rn) FROM raw_n "
                        "WHERE rn >= %d AND rn < %d" % (op["lo"], op["hi"]))
        elif kind in ("posdel", "dvdel"):
            con.execute("DELETE FROM t WHERE " + op["cond"])
        elif kind == "update":
            sets = ", ".join("%s = %s" % kv for kv in sorted(op["set"].items()))
            con.execute("UPDATE t SET %s WHERE %s" % (sets, op["cond"]))
        elif kind == "eqdel":
            con.execute("DELETE FROM t WHERE event_id IN (%s)"
                        % ",".join(str(k) for k in op["event_ids"]))
        elif kind == "merge":
            src = pa.table({
                "event_id": pa.array([r["event_id"] for r in op["rows"]], pa.int64()),
                "ts": pa.array([r["ts"] for r in op["rows"]], pa.timestamp("us")),
                "user_id": pa.array([r["user_id"] for r in op["rows"]], pa.int64()),
                "event_type": [r["event_type"] for r in op["rows"]],
                "value_s": [r["value"] for r in op["rows"]],
                "props": [r["props"] for r in op["rows"]]})
            con.register("src_raw", src)
            con.execute("CREATE OR REPLACE TEMP TABLE src AS SELECT event_id, ts, user_id, "
                        "event_type, CAST(value_s AS DOUBLE) AS value, props FROM src_raw")
            con.execute("CREATE OR REPLACE TEMP TABLE hit AS SELECT s.event_id FROM src s "
                        "WHERE s.event_id IN (SELECT event_id FROM t)")
            con.execute("UPDATE t SET value = s.value, event_type = s.event_type, "
                        "props = s.props FROM src s WHERE t.event_id = s.event_id")
            con.execute("INSERT INTO t SELECT * FROM src "
                        "WHERE event_id NOT IN (SELECT event_id FROM hit)")
            con.unregister("src_raw")
        elif kind in ("compact", "expire"):
            pass
        else:
            raise ValueError("unknown ingest op %s" % kind)
    return _hash(con, "SELECT * FROM t")


Q1 = ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
      "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents, "
      "min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship "
      "FROM %s GROUP BY l_returnflag, l_linestatus")


def serve_expected(lineitem, build, reads):
    """Expected hash of every read of the serve mix: head reads see the
    merge-on-read backlog, tag reads the pre-delete table."""
    con = _con()
    con.register("raw", lineitem)
    con.execute("CREATE TABLE pre AS SELECT * FROM raw")
    con.execute("CREATE TABLE head AS SELECT * FROM raw")
    for op in build:
        if op["op"] in ("posdel", "dvdel"):
            con.execute("DELETE FROM head WHERE " + op["cond"])
        elif op["op"] == "eqdel":
            con.execute("DELETE FROM head WHERE l_orderkey IN (%s)"
                        % ",".join(str(k) for k in op["l_orderkeys"]))
    out = []
    for op in reads:
        kind = op["op"]
        if kind in ("point", "point_sql"):
            sql = "SELECT * FROM head WHERE l_orderkey = %d" % op["key"]
        elif kind == "point_tag":
            sql = "SELECT * FROM pre WHERE l_orderkey = %d" % op["key"]
        elif kind == "range_key":
            sql = "SELECT * FROM head WHERE l_orderkey >= %d AND l_orderkey < %d" % (
                op["lo"], op["hi"])
        elif kind == "range_date":
            sql = "SELECT * FROM head WHERE l_shipdate >= %s AND l_shipdate < %s" % (
                op["lo"], op["hi"])
        elif kind == "full":
            sql = Q1 % "head"
        elif kind == "full_tag":
            sql = Q1 % "pre"
        elif kind == "files":
            sql = "SELECT CAST(count(*) AS BIGINT) AS rows FROM pre"
        else:
            raise ValueError("unknown read op %s" % kind)
        out.append(_hash(con, sql))
    return out


def analytics_expected(data_dir, tables, oracle_sql):
    """Hash of each key's oracle SQL over the same parquet tables; keys
    without an oracle are absent (rows-only check)."""
    con = _con()
    for t in tables:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'"
                    % (t, os.path.join(data_dir, t + ".parquet")))
    out = {}
    for key, sql in oracle_sql.items():
        out[key] = _hash(con, sql)
    return out


def load_oracle_sql(path):
    with open(path) as f:
        return json.load(f)
