"""DuckDB side of the output check.

Runs oracle SQL over the generated tables and digests the result with the
same canonical row encoding as `src/perfbench/Digest.scala`: columns
sorted by name, one tagged field per value, MD5 per row, the first 8 bytes
of each row hash summed modulo 2^64.
"""
import datetime
import decimal
import hashlib
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_DATE = datetime.date(1970, 1, 1)


def _text(tag, s):
    b = s.encode("utf-8")
    return tag + str(len(b)).encode() + b":" + b


def _micros(t):
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    d = t - EPOCH
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def encode(v):
    if v is None:
        return b"N"
    if isinstance(v, bool):
        return b"B" + (b"\x01" if v else b"\x00")
    if isinstance(v, int):
        return _text(b"I", str(v))
    if isinstance(v, float):
        return b"F" + struct.pack(">d", 0.0 if v == 0.0 else v)
    if isinstance(v, decimal.Decimal):
        s = "0" if v == 0 else format(v.normalize(), "f")
        return _text(b"D", s)
    if isinstance(v, str):
        return _text(b"S", v)
    if isinstance(v, datetime.datetime):
        return _text(b"T", str(_micros(v)))
    if isinstance(v, datetime.date):
        return _text(b"d", str((v - EPOCH_DATE).days))
    if isinstance(v, (bytes, bytearray)):
        return b"X" + str(len(v)).encode() + b":" + bytes(v)
    if isinstance(v, dict):
        return b"{" + b"".join(encode(x) for x in v.values()) + b"}"
    if isinstance(v, (list, tuple)):
        return (b"[" + str(len(v)).encode() + b":"
                + b"".join(encode(x) for x in v) + b"]")
    raise TypeError(f"digest: unsupported value type {type(v).__name__}")


def digest(columns, rows):
    """(row count, hex digest, sorted column names) of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        h = hashlib.md5(b"".join(encode(r[i]) for i in order)).digest()
        total += int.from_bytes(h[:8], "big", signed=True)
    return len(rows), f"{total % 2**64:016x}", [columns[i] for i in order]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def run(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())
