"""Correctness checks of the query workloads' outputs.

Two kinds, both run on the parquet results the benchmark JVM wrote:

- DuckDB oracle: each query with an entry in the engine's
  `SparkEntry.oracleSql` is re-run in DuckDB on the same tables and compared
  with the rules of the repository's `tools/duckcheck.py`: columns sorted by
  name, list cells as tuples, rows sorted by every column, non-float cells
  exact, float cells within 1e-9.
- Pinned digest: the rows-only queries (hash-keyed dedup) are compared with
  a SHA-256 of their normalized rows pinned in `digests.json`.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "part", "orders", "lineitem", "documents"]


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def read_result(out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(got, exp):
    """None if equal under the duckcheck rules, else what differs."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    g, e = normalize(got), normalize(exp)
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        gv, ev = g[c].values, e[c].values
        if np.issubdtype(g[c].dtype, np.floating) or np.issubdtype(e[c].dtype, np.floating):
            gv, ev = np.asarray(gv, dtype=float), np.asarray(ev, dtype=float)
            close = np.isclose(gv, ev, rtol=0, atol=1e-9) | (np.isnan(gv) & np.isnan(ev))
            if not close.all():
                i = int(np.argmin(close))
                return f"col {c} row {i}: {gv[i]} vs {ev[i]}"
        else:
            diff = pd.Series(gv).fillna("__N") != pd.Series(ev).fillna("__N")
            if diff.any():
                i = int(np.argmax(diff.values))
                return f"col {c} row {i}: {gv[i]!r} vs {ev[i]!r}"
    return None


def digest(df):
    return hashlib.sha256(normalize(df).to_csv(index=False).encode()).hexdigest()


def sql_failures(data_dir, out_dir, names, break_check=False):
    """Check `names` against the DuckDB oracle SQL the JVM wrote next to the
    results. With `break_check`, the first expected answer that has a row
    loses it, so a working gate must report that query.
    """
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    failures = []
    broken = False
    for name in sorted(names):
        got = read_result(out_dir, name)
        if got is None:
            failures.append(f"{name}: no engine result")
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append(f"{name}: duckdb error: {e}")
            continue
        if break_check and not broken and len(exp):
            exp, broken = exp.iloc[1:], True
        why = compare(got, exp)
        if why:
            failures.append(f"{name}: {why}")
    return failures


def digest_failures(out_dir, names, pinned, break_check=False):
    """Check rows-only `names` against `pinned` digests."""
    failures = []
    for i, name in enumerate(sorted(names)):
        got = read_result(out_dir, name)
        if got is None:
            failures.append(f"{name}: no engine result")
            continue
        want = pinned.get(name)
        if break_check and i == 0:
            want = "0" * 64
        have = digest(got)
        if have != want:
            failures.append(f"{name}: digest {have} != pinned {want}")
    return failures
