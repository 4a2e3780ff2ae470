"""DuckDB oracle check of the warm-up pass outputs.

Each query's oracle SQL (graft.SparkEntry.oracleSql) runs in DuckDB over
the same parquet inputs; the result is cached per input directory and
SQL text, so a seed pays for it once. The comparison is the one of
scripts/parity.py: columns by name, row count, then the sorted rows
rendered as strings.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), sorted(df.astype(str).apply("|".join, axis=1))


def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def expected(data_dir, sql):
    """(columns, sorted rows) of the oracle, cached beside the inputs."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    cache = os.path.join(data_dir, "oracle", f"{key}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return tuple(json.load(fh))
    cols, rows = _rows(_connect(data_dir).execute(sql).fetchdf())
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    tmp = f"{cache}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump([cols, rows], fh)
    os.replace(tmp, cache)
    return cols, rows


def check(queries, sqls, check_dir):
    """queries: {key: data_dir}. Returns {key: None if equal, else why}."""
    con = duckdb.connect()
    verdict = {}
    for key, data_dir in queries.items():
        sql = sqls.get(key)
        if not sql:
            verdict[key] = "no oracle SQL"
            continue
        try:
            want_cols, want = expected(data_dir, sql)
            got_cols, got = _rows(con.execute(
                f"SELECT * FROM '{os.path.join(check_dir, key)}/*.parquet'").fetchdf())
            if got_cols != want_cols:
                verdict[key] = f"columns {got_cols} != {want_cols}"
            elif len(got) != len(want):
                verdict[key] = f"rows {len(got)} != {len(want)}"
            elif got != want:
                diff = sorted(set(got) ^ set(want))
                verdict[key] = f"{len(diff)} differing rows, e.g. {diff[:2]}"
            else:
                verdict[key] = None
        except Exception as e:  # a missing output or a DuckDB error
            verdict[key] = f"{type(e).__name__}: {str(e)[:200]}"
    return verdict
