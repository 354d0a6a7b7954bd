#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate.

Usage:  python3 tools/oracle_check.py <sfDir> <verifyOutDir> [prefixes]

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB against the
parquet tables in <sfDir>, canonicalizes (sort columns by name, sort rows),
and reports match/mismatch per query.

[prefixes] is the same optional comma-separated name-prefix filter that
graft.Verify takes. Every selected oracle must have an output directory: one
without (its gate threw in Verify, or was never run) counts as [MISSING] and
as bad.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main(sf_dir: str, out_dir: str, prefixes: str = "") -> int:
    only = [p for p in prefixes.split(",") if p]

    def selected(name: str) -> bool:
        return not only or any(name.startswith(p) for p in only)

    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_ok = n_bad = n_noracle = 0
    dirs = {q.name for q in Path(out_dir).iterdir() if q.is_dir()}
    for name in sorted(n for n in oracle if selected(n) and n not in dirs):
        n_bad += 1
        print(f"  [MISSING] {name}: oracle has no output directory")
    for name in sorted(n for n in dirs if selected(n)):
        qdir = Path(out_dir) / name
        try:
            got = pd.read_parquet(qdir)
        except Exception as e:
            n_bad += 1
            print(f"  [READ-ERR] {name}: {e}")
            continue
        if name not in oracle:
            n_noracle += 1
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        try:
            want = con.sql(oracle[name]).df()
        except Exception as e:
            n_bad += 1
            print(f"  [ORACLE-ERR] {name}: {e}")
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            n_bad += 1
            print(f"  [COL-MISMATCH] {name}: spark={list(g.columns)} duckdb={list(w.columns)}")
            continue
        if len(g) != len(w):
            n_bad += 1
            print(f"  [ROWCOUNT] {name}: spark={len(g)} duckdb={len(w)}")
            continue
        # dtype-strict: the driver hashes typed values, so an integral Spark
        # column vs a float64 DuckDB column (the HUGEINT/DECIMAL tell) fails
        # the driver's hash even when values compare numerically equal.
        dtype_bad = None
        for c in g.columns:
            if pd.api.types.is_integer_dtype(g[c]) and pd.api.types.is_float_dtype(w[c]):
                dtype_bad = f"col {c}: spark={g[c].dtype} duckdb={w[c].dtype} (uncast HUGEINT/DECIMAL? wrap in CAST(... AS BIGINT))"
                break
        if dtype_bad:
            n_bad += 1
            print(f"  [DTYPE] {name}: {dtype_bad}")
            continue
        # exact value compare (timestamps normalized to ns, floats bit-exact)
        mismatch = None
        for c in g.columns:
            a, b = g[c], w[c]
            try:
                if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
                    a = pd.to_datetime(a).dt.tz_localize(None) if getattr(a.dt, "tz", None) else pd.to_datetime(a)
                    b = pd.to_datetime(b).dt.tz_localize(None) if getattr(b.dt, "tz", None) else pd.to_datetime(b)
                    a = a.astype("datetime64[ns]"); b = b.astype("datetime64[ns]")
                eq = (a.isna() & b.isna()) | (a == b)
                if not bool(eq.all()):
                    bad = (~eq).idxmax()
                    mismatch = f"col {c} row {bad}: spark={a[bad]!r} duckdb={b[bad]!r}"
                    break
            except Exception as e:
                mismatch = f"col {c}: compare error {e}"
                break
        if mismatch:
            n_bad += 1
            print(f"  [VALUE] {name}: {mismatch}")
        else:
            n_ok += 1
            print(f"  [OK] {name}: {len(g)} rows")
    print(f"== {n_ok} ok, {n_bad} bad, {n_noracle} rows-only")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
