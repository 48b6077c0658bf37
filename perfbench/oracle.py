"""Output check: each workload query's dumped result against DuckDB.

The compare is the one `tools/check.py` makes: run the engine's oracle
SQL in DuckDB over the same parquet inputs, sort columns by name and rows
by every column, then require equal numeric families, exactly equal
floats (NaN equal to NaN) and equal string renderings otherwise.
Queries without an oracle must return rows, and return the same rows in
the two warm passes that dumped them.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
WIDE_TYPES = ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT")


def _load(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _checksum(df):
    return hashlib.sha256(_canon(df).to_csv(index=False).encode()).hexdigest()


def _compare(spark, duck, types):
    wide = {c: t for c, t in types.items() if t in WIDE_TYPES}
    if wide:
        return f"oracle column types outside int64/float64 families: {wide}"
    s, o = _canon(spark), _canon(duck)
    if list(s.columns) != list(o.columns):
        return f"columns spark={list(s.columns)} duck={list(o.columns)}"
    if len(s) != len(o):
        return f"rows spark={len(s)} duck={len(o)}"
    for c in s.columns:
        sv, ov = s[c], o[c]
        if (sv.dtype.kind in "if" or ov.dtype.kind in "if") and sv.dtype.kind != ov.dtype.kind:
            return f"col {c} dtype family spark={sv.dtype} duck={ov.dtype}"
        if sv.dtype.kind == "f":
            a, b = sv.to_numpy(dtype=float), ov.to_numpy(dtype=float)
            eq = (a == b) | (np.isnan(a) & np.isnan(b))
            if not eq.all():
                return f"col {c} max|diff|={np.nanmax(np.abs(a - b))} ({int((~eq).sum())}/{len(a)} rows)"
        elif not sv.astype(str).equals(ov.astype(str)):
            return f"col {c} differs"
    return None


def check(oracle_sql, queries, data_dir, results_dir, log):
    """Returns {query: reason} for every query whose output is wrong."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for q in queries:
        got = _load(os.path.join(results_dir, "w1", q))
        if got is None:
            bad[q] = "no output"
        elif q in oracle_sql:
            try:
                duck = con.execute(oracle_sql[q]).df()
                types = dict((r[0], r[1]) for r in con.execute("DESCRIBE " + oracle_sql[q]).fetchall())
            except Exception as e:  # an oracle that DuckDB rejects is a failed check
                bad[q] = f"duckdb error: {e}"
                continue
            why = _compare(got, duck, types)
            if why:
                bad[q] = why
        else:
            again = _load(os.path.join(results_dir, "w2", q))
            if len(got) == 0:
                bad[q] = "no rows (no oracle: rows-only check)"
            elif again is None or _checksum(got) != _checksum(again):
                bad[q] = "checksum differs between passes (no oracle)"
    for q, why in sorted(bad.items()):
        log(f"FAIL {q}: {why}")
    return bad
