#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs graft.Verify on an sf dir, then executes each oracle SQL in DuckDB
over the same parquet tables and compares: columns sorted by name, rows
sorted by all columns, values compared exactly (floats to 1e-9 rel).

Usage: python3 tools/check.py [sfDir] [--skip-verify] [query ...]
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd
import numpy as np

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
OUT_DIR = "/tmp/graft_verify"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
only = [a for a in sys.argv[2:] if not a.startswith("-")]


def run_verify():
    """Runs Verify into an emptied OUT_DIR, so no query can be compared
    against a previous run's output. Returns False if Verify failed."""
    shutil.rmtree(OUT_DIR, ignore_errors=True)
    # When specific queries were requested, dump only those (Verify
    # accepts optional name filters after the two positional args).
    extra = (" " + " ".join(only)) if only else ""
    cmd = ["sbt", f'runMain graft.Verify {SF_DIR} {OUT_DIR}{extra}']
    r = subprocess.run(cmd, cwd="/root/repo", capture_output=True, text=True)
    out = r.stdout + r.stderr
    for line in out.splitlines():
        if "[verify]" in line or "error" in line.lower():
            print(line)
    if r.returncode != 0:
        print(out[-4000:])
        # Verify exits non-zero when a query throws; its missing output is
        # counted as FAIL below. Without oracle_sql.json nothing can run.
        if not os.path.exists(os.path.join(OUT_DIR, "oracle_sql.json")):
            sys.exit(1)
    return r.returncode == 0


def read_spark(name):
    d = os.path.join(OUT_DIR, name)
    return pd.read_parquet(d)


def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            # decimal.Decimal / bytes → canonical
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name, a, b):
    if list(a.columns) != list(b.columns):
        return f"column mismatch: spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"row count mismatch: spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            aa = av.astype("float64").to_numpy()
            bb = bv.astype("float64").to_numpy()
            ok = np.isclose(aa, bb, rtol=1e-9, atol=1e-12, equal_nan=True)
            exact = (aa == bb) | (np.isnan(aa) & np.isnan(bb))
            if not ok.all():
                i = int(np.argmin(ok))
                return f"float col {c} differs at row {i}: {aa[i]} vs {bb[i]}"
            if not exact.all():
                i = int(np.argmin(exact))
                print(f"  [warn] {name}.{c}: non-bit-exact floats (row {i}: {aa[i]} vs {bb[i]}) — hash compare may fail")
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                return f"col {c} differs at row {i}: {av[i]!r} vs {bv[i]!r}"
    return None


def main():
    verify_ok = "--skip-verify" in sys.argv or run_verify()
    with open(os.path.join(OUT_DIR, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # every oracle key is checked: a key with no Spark output fails below
    names = only or sorted(oracles)
    n_pass = n_fail = n_noracle = 0
    for name in names:
        try:
            spark_df = read_spark(name)
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if not sql:
            print(f"SKIP {name}: no oracle (rows={len(spark_df)})")
            n_noracle += 1
            continue
        try:
            oracle_df = con.execute(sql).fetch_df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        err = compare(name, normalize(spark_df), normalize(oracle_df))
        if err:
            print(f"FAIL {name}: {err}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_df)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} no-oracle")
    if not verify_ok:
        print("Verify exited non-zero")
    sys.exit(0 if verify_ok and not n_fail else 1)


if __name__ == "__main__":
    main()
