"""Output checks for a benchmark run, made outside the timed region.

- Entries with DuckDB oracle SQL (`SparkEntry.oracleSql`): the warm pass's
  output must have the same order-insensitive hash as DuckDB running the
  SQL over the same generated tables. Oracle hashes are cached per
  (data directory, SQL text), so each seed computes them once.
- Rows-only entries: rows > 0 and the same hash on the warm pass and on a
  second pass after the timed region.
- Ingest: the JVM compares every maintained MV with a full-scan build
  after the last delta (`mv_checks`).

Hashes follow the repository's oracle gate (check.py): columns sorted by
name, rows sorted, values and dtypes exact.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def frame_hash(df):
    cols = sorted(df.columns)
    dtypes = [(c, str(df[c].dtype)) for c in cols]
    df = df[cols].copy()
    for c in cols:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(v.tolist() if hasattr(v, "tolist") else v))
    df = df.sort_values(cols).reset_index(drop=True)
    h = hashlib.sha256(repr(dtypes).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest(), len(df)


def connect(data=None):
    con = duckdb.connect()
    con.sql(f"SET threads={len(os.sched_getaffinity(0))}")
    con.sql("SET memory_limit='2GB'")
    if data:
        for t in TABLES:
            p = os.path.join(data, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def output_hash(con, path):
    if not glob.glob(os.path.join(path, "*.parquet")):
        return None, 0
    return frame_hash(con.sql(f"SELECT * FROM '{path}/*.parquet'").df())


def oracle_hashes(data, oracle_sql, cache_dir):
    """DuckDB hash per entry, cached by (data dir, SQL text)."""
    os.makedirs(cache_dir, exist_ok=True)
    key = hashlib.sha256(json.dumps([os.path.basename(data), oracle_sql], sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{os.path.basename(data)}-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = connect(data)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            out[name] = list(frame_hash(con.sql(sql).df()))
        except Exception as e:  # an oracle error fails that entry, not the run
            out[name] = ["oracle error: " + str(e).splitlines()[0][:200], 0]
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.rename(path + ".tmp", path)
    return out


def check(res, data, run_dir, cache_dir):
    if res["workload"] == "ingest":
        bad = sorted(k for k, ok in res["mv_checks"].items() if not ok)
        n = len(res["mv_checks"])
        return {"failed": [f"mv:{k}" for k in bad], "compared": n, "output_rows": res.get("read_rows", 0),
                "summary": f"{n - len(bad)}/{n} maintained MVs equal their full-scan build"}
    oracle_sql = res["oracle_sql"]
    oracles = oracle_hashes(data, oracle_sql, cache_dir)
    con = connect()
    entries = sorted({r["entry"] for r in res["requests"]})
    failed, rows_total, n_oracle, n_det = [], 0, 0, 0
    for name in entries:
        h, rows = output_hash(con, os.path.join(run_dir, "warm", name))
        rows_total += rows
        if name in oracle_sql:
            n_oracle += 1
            if h is None or h != oracles[name][0]:
                failed.append(name)
        else:
            n_det += 1
            h2, _ = output_hash(con, os.path.join(run_dir, "check", name))
            if h is None or rows == 0 or h != h2:
                failed.append(name)
    summary = (f"{len(entries) - len(failed)}/{len(entries)} entries pass "
               f"({n_oracle} by DuckDB oracle hash, {n_det} rows-only by same hash on two passes)")
    return {"failed": failed, "compared": len(entries), "output_rows": rows_total, "summary": summary}
