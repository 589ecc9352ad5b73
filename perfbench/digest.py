"""Order-insensitive result digests, identical to the JVM harness's.

A result is normalized the way tools/check.py compares Spark output with
the DuckDB oracle: columns sorted by name, rows compared as a multiset,
values exactly. Each value gets a typed token (integers as decimal,
floating and decimal values as the bits of the IEEE double, strings as
they are); a row is its tokens in column-name order, and the digest is
the column list, the row count and the 64-bit wrapping sum of the rows'
md5 prefixes.
"""
import datetime
import decimal
import hashlib
import math
import struct

_MASK = (1 << 64) - 1
_EPOCH = datetime.datetime(1970, 1, 1)


def _bits(x):
    x = float(x)
    if x == 0.0:
        x = 0.0
    if math.isnan(x):
        return "7ff8000000000000"
    return "%016x" % struct.unpack(">Q", struct.pack(">d", x))[0]


def enc(v):
    if v is None:
        return "n"
    t = type(v).__name__
    if isinstance(v, bool) or t == "bool_":
        return "b1" if v else "b0"
    if isinstance(v, int) or t.startswith(("int", "uint")):
        return "i%d" % int(v)
    if isinstance(v, (float, decimal.Decimal)) or t.startswith("float"):
        if isinstance(v, float) and math.isnan(v):
            return "n"  # pandas reads SQL NULL doubles as NaN
        return "f" + _bits(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return "t%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "d%d" % (v - _EPOCH.date()).days
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + "\x1d".join(enc(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)) or t == "ndarray":
        return "[" + "\x1d".join(enc(x) for x in v) + "]"
    return "?" + str(v)


def digest(columns, rows):
    """Digest of `rows` (sequences of values in `columns` order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = n = 0
    for r in rows:
        s = "\x1f".join(enc(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
        n += 1
    return "%s|%d|%016x" % (",".join(columns[i] for i in order), n, total & _MASK)


def duckdb_digest(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def connect(data_dir, threads=None):
    """DuckDB with one view per parquet table of `data_dir`."""
    import duckdb
    import os
    con = duckdb.connect()
    if threads:
        con.execute("SET threads TO %d" % threads)
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f).replace("'", "''")
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (f[:-8], path))
    return con
