"""DuckDB oracle digests, canonicalised like tools/check.py.

A result's digest is (row count, sum mod 2^64 of each row's SHA-256
prefix), where a row is its values in column-name order, each value in
canonical text: non-integral numbers rounded half-even to 4 decimals,
timestamps as epoch microseconds. The harness computes the same digest of
the Spark result (perfbench.Digest), so a match means equal multisets.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys

import duckdb

Q4 = decimal.Decimal("0.0001")
EPOCH = dt.datetime(1970, 1, 1)


def _dec(d):
    s = d.quantize(Q4, rounding=decimal.ROUND_HALF_EVEN)
    return "0.0000" if s == 0 else format(s, "f")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return _dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):  # MAP
            return "{" + ",".join(sorted(f"{canon(k)}:{canon(x)}"
                                         for k, x in zip(v["key"], v["value"]))) + "}"
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")
    return {"rows": len(rows), "digest": str(total % (1 << 64)),
            "columns": [columns[i] for i in order]}


def oracle_digests(data_dir, sqls):
    """{name: digest} of each oracle query over the parquet tables in
    `data_dir`; a query DuckDB cannot run is left out. Digests are cached
    beside the data, keyed by the SQL text, since the same inputs are
    measured many times."""
    cache_dir = os.path.join(data_dir, "oracle-cache")
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256(sql.encode("utf-8")).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for fn in sorted(os.listdir(data_dir)):
                if fn.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                                f"'{os.path.join(data_dir, fn)}'")
        try:
            res = con.execute(sql)
            out[name] = digest([d[0] for d in res.description], res.fetchall())
        except duckdb.Error as e:  # the query then counts as failed
            print(f"[perfbench] oracle {name} failed in DuckDB: {e}", file=sys.stderr)
            continue
        with open(path + ".tmp", "w") as f:
            json.dump(out[name], f)
        os.replace(path + ".tmp", path)
    return out
