"""Output checks: row count plus an order-insensitive hash of a result,
for the engine's parquet dump and for DuckDB's answer to the gate's
oracle SQL on the same input tables.

Cells are canonicalised before hashing so that type differences that do
not change a value (int32 vs int64, float vs decimal, list vs array)
hash alike; floats keep 12 significant digits. Each row hashes to 64
bits and the row hashes are summed modulo 2^64, so row order does not
matter and duplicate rows still count.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        if f == int(f) and abs(f) < 2 ** 53:
            return str(int(f))
        return f"{f:.12g}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def fingerprint(con, relation_sql):
    """{"rows", "hash", "columns"} of a DuckDB query's result."""
    cur = con.execute(relation_sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total, rows = 0, 0
    while True:
        chunk = cur.fetchmany(10000)
        if not chunk:
            break
        for row in chunk:
            key = "\x1f".join(_canon(row[i]) for i in order)
            total += int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "big")
            rows += 1
    return {"rows": rows, "hash": f"{total % 2 ** 64:016x}",
            "columns": sorted(c.lower() for c in cols)}


def _duckdb():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # spill, if ever, next to the other caches rather than in the cwd
    spill = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache", "duckdb_tmp")
    con.execute(f"SET temp_directory = '{spill}'")
    return con


def _connect(data_dir):
    con = _duckdb()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class References:
    """DuckDB oracle fingerprints, cached by oracle SQL and the content
    of the tables it names (the tier's MANIFEST.json), so tiers that
    share a table file share its results."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        with open(os.path.join(data_dir, "MANIFEST.json")) as f:
            self.manifest = json.load(f)
        self._con = None

    def get(self, gate, sql):
        used = sorted(t for t in self.manifest if re.search(rf"\b{t}\b", sql))
        key = hashlib.sha1("\n".join([sql] + [self.manifest[t] for t in used]).encode())
        path = os.path.join(self.cache_dir, f"{gate}-{key.hexdigest()[:16]}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self._con is None:
            self._con = _connect(self.data_dir)
        ref = fingerprint(self._con, sql)
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(ref, f)
        os.replace(path + ".tmp", path)
        return ref


def dump_fingerprint(dump_dir):
    con = _duckdb()
    return fingerprint(con, f"SELECT * FROM read_parquet('{dump_dir}/*.parquet')")


def compare(got, want):
    """None when the dump matches the reference, else why not."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != oracle {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"{got['rows']} rows != oracle {want['rows']}"
    if got["hash"] != want["hash"]:
        return f"row hash {got['hash']} != oracle {want['hash']} ({got['rows']} rows)"
    return None
