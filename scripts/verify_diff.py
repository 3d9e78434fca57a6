#!/usr/bin/env python3
"""Compare two graft.Verify output directories key by key.

`graft.Verify <sfDir> <outDir>` writes one parquet directory per operator
key. selfcheck.py gates each directory against the DuckDB oracle; this
script instead shows that two runs (say, a change and its parent) give
the same result for every key: the same schema and the same rows, in any
order. A key whose directory holds an `_ERROR` marker, or that one side
lacks, counts as different.

Each result is reduced to a digest of its schema (column names and
types, in order) and of its rows: every row gets a canonical text form,
and the sorted row digests are hashed together, so row order does not
matter. Doubles compare by IEEE bits (all NaNs equal), map entries in
key order.

Usage: python3 scripts/verify_diff.py <verifyOutA> <verifyOutB> [--keys k1,k2]
Prints one line per key that differs and a summary line
"== N/M identical ==". Exit 0 when every key is identical, else 1.
"""
import argparse
import datetime
import decimal
import hashlib
import math
import os
import struct
import sys

import pyarrow.parquet as pq


def canon(v):
    """A canonical text form of one pyarrow `to_pylist` value."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        if math.isnan(v):
            return "dNaN"
        return "d%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        return "m" + format(v.normalize(), "f") if v != 0 else "m0"
    if isinstance(v, str):
        return "s" + v.replace("\\", "\\\\").replace("\x1f", "\\x1f")
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time, datetime.timedelta)):
        return "t" + v.isoformat() if hasattr(v, "isoformat") else "t" + str(v)
    if isinstance(v, dict):
        return "{" + ",".join("%s=%s" % (k, canon(x)) for k, x in v.items()) + "}"
    if isinstance(v, list):
        # a map arrives as a list of (key, value) tuples: compare in key order
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return "<" + ",".join(sorted(canon(k) + ":" + canon(x) for k, x in v)) + ">"
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?" + repr(v)


def digest(key_dir):
    """(schema digest, row count, rows digest) of one key's parquet output,
    or a one-element tuple naming why there is none."""
    if not os.path.isdir(key_dir):
        return ("missing",)
    if os.path.exists(os.path.join(key_dir, "_ERROR")):
        return ("error",)
    tbl = pq.read_table(key_dir)
    schema = ";".join("%s:%s" % (f.name, f.type) for f in tbl.schema)
    cols = [c.to_pylist() for c in tbl.columns]
    rows = sorted(hashlib.md5("\x1f".join(canon(x) for x in r).encode("utf-8")).digest()
                  for r in zip(*cols)) if cols else []
    h = hashlib.sha256()
    for r in rows:
        h.update(r)
    return (hashlib.sha256(schema.encode("utf-8")).hexdigest()[:16], len(rows),
            h.hexdigest()[:16])


def keys_of(out_dir):
    return {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--keys", help="comma-separated keys (default: every key of either side)")
    args = ap.parse_args()
    keys = sorted(args.keys.split(",") if args.keys else keys_of(args.a) | keys_of(args.b))
    same = 0
    for k in keys:
        da, db = digest(os.path.join(args.a, k)), digest(os.path.join(args.b, k))
        if da == db and len(da) == 3:
            same += 1
            continue
        if len(da) == 1 or len(db) == 1:
            why = "a: %s, b: %s" % (da[0] if len(da) == 1 else "ok", db[0] if len(db) == 1 else "ok")
        elif da[0] != db[0]:
            why = "schema differs"
        else:
            why = "rows differ (%d vs %d rows)" % (da[1], db[1])
        print("DIFF %s: %s" % (k, why))
    print("== %d/%d identical ==" % (same, len(keys)))
    return 0 if same == len(keys) else 1


if __name__ == "__main__":
    sys.exit(main())
