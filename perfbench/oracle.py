"""Compares query outputs with their DuckDB oracle answers: columns sorted
by name, rows sorted, floats equal exactly and by sign."""
import glob
import hashlib
import math
import numbers
import os

import numpy
import pandas

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _number(v):
    return isinstance(v, numbers.Real) and not isinstance(v, (bool, numpy.bool_))


def same_value(x, y):
    if hasattr(x, "__len__") and not isinstance(x, str):
        return hasattr(y, "__len__") and not isinstance(y, str) and len(x) == len(y) \
            and all(same_value(a, b) for a, b in zip(x, y))
    if pandas.isna(x) and pandas.isna(y):
        return True
    if isinstance(x, float) or isinstance(y, float):
        if not (_number(x) and _number(y)):
            return False
        fx, fy = float(x), float(y)
        return fx == fy and math.copysign(1.0, fx) == math.copysign(1.0, fy)
    return x == y


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, want):
    """None when the two frames hold the same rows, else a reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not same_value(x, y):
                return f"row {i} column {c}: {x!r} vs {y!r}"
    return None


def answers(data_dir, oracle_sql, cache_dir):
    """DuckDB's answer to each query over the tables. The tables are fixed,
    so an answer is kept in `cache_dir` under a digest of its SQL and the
    table files, and later runs read it back instead of recomputing it."""
    import duckdb
    digest = hashlib.md5()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            digest.update(f.read())
    con, out = None, {}
    os.makedirs(cache_dir, exist_ok=True)
    for name, sql in oracle_sql.items():
        key = hashlib.md5((digest.hexdigest() + sql).encode()).hexdigest()
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            con.sql(sql).df().to_pickle(path)
        out[name] = pandas.read_pickle(path)
    return out


def check(data_dir, results_dir, oracle_sql, cache_dir):
    """{query: reason} for every query whose output differs from DuckDB."""
    failures = {}
    for name, want in sorted(answers(data_dir, oracle_sql, cache_dir).items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            failures[name] = "no output"
            continue
        got = pandas.concat([pandas.read_parquet(f) for f in files])
        reason = compare(got, want)
        if reason:
            failures[name] = reason
    return failures
