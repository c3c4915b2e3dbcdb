"""Expected output fingerprints from each query's DuckDB twin.

Usage: python3 oracle.py <data_dir> <oracle_sql.json> <expected.json>

Runs every SQL entry of oracle_sql.json ({query: sql}) over the parquet
tables in data_dir and writes {query: "rows:hash"} with the fingerprint
Fingerprint.scala computes for Spark rows.
"""
import datetime
import decimal
import hashlib
import json
import math
import struct
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = EPOCH.replace(tzinfo=datetime.timezone.utc)
NULL = "∅"


def _num(d):
    if math.isnan(d):
        return NULL
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == math.floor(d):
        return str(int(d))
    return "f" + format(struct.unpack("<Q", struct.pack("<d", d))[0], "x")


def canon(v):
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return _num(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        base = EPOCH_TZ if v.tzinfo is not None else EPOCH
        return "t%d" % ((v - base) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b" + bytes(v).hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            pairs = zip(v["key"], v["value"])  # a DuckDB MAP
            return "<" + ",".join(sorted(k + ":" + x for k, x in
                                         ((canon(k), canon(x)) for k, x in pairs))) + ">"
        return "{" + ",".join("%s=%s" % (k, canon(v[k])) for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total, n = 0, 0
    for r in rows:
        text = "\u0001".join(columns[i] + "\u0002" + canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha1(text.encode("utf-8")).digest()[:8], "big")
        n += 1
    return "%d:%016x" % (n, total % (1 << 64))


def expected(data_dir, sql_by_query):
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                    % (t, data_dir, t))
    out = {}
    for name in sorted(sql_by_query):
        cur = con.execute(sql_by_query[name])
        cols = [d[0] for d in cur.description]
        out[name] = fingerprint(cols, cur.fetchall())
    return out


if __name__ == "__main__":
    data_dir, sql_path, out_path = sys.argv[1:4]
    with open(sql_path) as f:
        sql = json.load(f)
    with open(out_path, "w") as f:
        json.dump(expected(data_dir, sql), f, indent=1, sort_keys=True)
