"""Order-insensitive result hash, shared bit for bit with RowHash.scala.

Each value gets a canonical text form, a row is its values joined by
U+001F in column-name order, and the table hash is the row count plus the
sum (mod 2^64) of the first eight bytes of each row's MD5. Doubles are
compared by IEEE bits, timestamps as epoch microseconds, dates as epoch
days and decimals by their normalised plain text, so the Spark side and
the DuckDB side agree exactly when their results do.
"""
import decimal
import hashlib
import math
import struct

import pyarrow as pa

MASK = (1 << 64) - 1


def canon(v, t):
    if v is None:
        return "\\N"
    if pa.types.is_boolean(t):
        return "true" if v else "false"
    if pa.types.is_integer(t):
        return str(int(v))
    if pa.types.is_floating(t):
        return canon_double(float(v))
    if pa.types.is_decimal(t):
        return canon_decimal(v)
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return str(int(v))  # columns are pre-cast to int64 micros / int32 days
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "s" + v
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "b" + bytes(v).hex()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "[" + ",".join(canon(x, t.value_type) for x in v) + "]"
    if pa.types.is_struct(t):
        return "{" + ",".join(canon(v[t.field(i).name], t.field(i).type)
                              for i in range(t.num_fields)) + "}"
    raise ValueError("unhashable arrow type %s" % t)


def canon_double(x):
    if math.isnan(x):
        x = float("nan")
    elif x == 0.0:
        x = 0.0
    return "d%016x" % struct.unpack(">Q", struct.pack(">d", x))[0]


def canon_decimal(d):
    d = decimal.Decimal(d)
    if d == 0:
        return "m0"
    return "m" + format(d.normalize(), "f")


def _epoch_ints(col, t):
    """Timestamps to epoch micros and dates to epoch days, nested types
    left alone (no operator key returns temporal values inside lists)."""
    if pa.types.is_timestamp(t):
        return col.cast(pa.timestamp("us", t.tz)).cast(pa.int64())
    if pa.types.is_date(t):
        return col.cast(pa.date32()).cast(pa.int32())
    return col


def row_digest(text):
    return int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")


def combine(digests):
    n, s = 0, 0
    for d in digests:
        n += 1
        s = (s + d) & MASK
    return "%d:%016x" % (n, s)


def table_hash(tbl):
    """Hash of a pyarrow.Table, columns taken in name order."""
    names = sorted(tbl.column_names)
    cols = []
    for name in names:
        c = tbl.column(name)
        t = c.type
        cols.append((_epoch_ints(c, t).to_pylist(), t))
    rows = zip(*[c for c, _ in cols]) if cols else iter(())
    types = [t for _, t in cols]
    return combine(row_digest("\x1f".join(canon(v, t) for v, t in zip(r, types)))
                   for r in rows)
