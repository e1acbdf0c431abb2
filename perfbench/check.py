"""Correctness check: compares each op's materialised result (every column,
in result order) with a DuckDB reference computed from the query's declared
oracle SQL (`graft.SparkEntry.oracleSql`) over the same parquet inputs.
References are cached per seed, so a seed's second run reuses them.
"""
import datetime as dt
import json
import math
import os

import duckdb


def norm(v):
    """DuckDB value -> the canonical form the JVM side writes (Json.scala)."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return str(v)


def reference(sql, input_dir, tables, cache_path, threads):
    """Sorted column names and rows of `sql` over the parquet tables in
    `input_dir`; cached as JSON at `cache_path`."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET memory_limit = '1GB'")
    for t in tables:
        path = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    rel = con.sql(sql)
    cols = list(rel.columns)
    data = rel.fetchall()
    con.close()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    ref = {"columns": [cols[i] for i in order],
           "rows": [[norm(r[i]) for i in order] for r in data]}
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, cache_path)
    return ref


def _canon(v):
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def compare(result, ref):
    """None when equal, else a one-line reason."""
    if result["columns"] != ref["columns"]:
        return f"columns {result['columns']} != reference {ref['columns']}"
    a, b = result["rows"], ref["rows"]
    if len(a) != len(b):
        return f"{len(a)} rows != reference {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if _canon(x) != _canon(y):
            return f"row {i}: {x} != reference {y}"
    return None
