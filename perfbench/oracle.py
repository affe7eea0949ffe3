#!/usr/bin/env python3
"""One-off verification of the benchmark's expected results.

The benchmark checks every query result on every run against a
fingerprint in perfbench/expected.json. This script makes that file:

1. `perfbench.Main record` evaluates every registered query once on the
   benchmark's sf0.1 tables and writes each result (parquet), its
   fingerprint (perfbench/src/perfbench/Digest.scala) and the DuckDB
   oracle SQL.
2. Each result is compared with DuckDB's answer to the oracle SQL under
   tools/check.py's rules (columns by sorted name, rows sorted, floats to
   1e-9 relative).
3. A query that agrees gets Spark's fingerprint as its expected value. A
   query that disagrees gets the fingerprint of DuckDB's answer, computed
   here by the same rules, so it fails on every run until it is fixed; it
   is listed in perfbench/known_defects.json.

It takes about as long as the full oracle check at sf0.1.

Usage: python3 perfbench/oracle.py RECORD_DIR
   (RECORD_DIR holds the output of `Main record --out RECORD_DIR`)
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import check  # noqa: E402  (tools/check.py: normalize + compare)

DATA = os.path.join(HERE, "data", "sf0.1")
EPOCH = datetime.datetime(1970, 1, 1)


def num(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Inf" if d > 0 else "-Inf"
    return "%.8e" % (0.0 if d == 0 else d)


def integer(v):
    s = num(float(v))
    return s + ("|" + str(v) if abs(v) >= 1000000000 else "")


def canon(v):
    """Mirror of Digest.canon for the Python values DuckDB returns."""
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return integer(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        return integer(int(v)) if v == v.to_integral_value() else num(float(v))
    if isinstance(v, str):
        return '"' + v + '"'
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - EPOCH
        return str((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + "".join(f"{k}:{canon(v[k])}," for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + "".join(canon(x) + "," for x in v) + "]"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    a = b = 0
    for r in rows:
        s = "".join(canon(r[i]) + "\x01" for i in order)
        d = hashlib.md5(s.encode("utf-8")).digest()
        a += int.from_bytes(d[:8], "big", signed=True)
        b += int.from_bytes(d[8:], "big", signed=True)
    return f"{len(rows)}:{a % 2**64:016x}:{b % 2**64:016x}"


def main():
    rec = sys.argv[1]
    with open(os.path.join(rec, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(rec, "record.jsonl")) as f:
        records = [json.loads(line) for line in f if line.strip()]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    expected, defects, parity = {}, {}, [0, 0]
    for r in records:
        name = r["name"]
        if "error" in r:
            print(f"THREW {name}: {r['error']}")
            defects[name] = f"throws at sf0.1: {r['error'][:160]}"
            continue
        sql = oracles.get(name)
        if not sql:
            print(f"NO-ORACLE {name}: expected = Spark's result")
            expected[name] = r["digest"]
            continue
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        duck = digest(cols, rows)
        spark_df = pd.read_parquet(os.path.join(rec, "results", name))
        oracle_df = con.execute(sql).fetch_df()
        err = check.compare(name, check.normalize(spark_df), check.normalize(oracle_df))
        parity[0] += duck == r["digest"]
        parity[1] += 1
        if err:
            print(f"FAIL {name}: {err}")
            expected[name] = duck
            defects[name] = f"disagrees with the DuckDB oracle at sf0.1: {err[:160]}"
        else:
            print(f"PASS {name}" + ("" if duck == r["digest"] else " (fingerprints differ only in rounding)"))
            expected[name] = r["digest"]
    print(f"fingerprint parity Spark/DuckDB: {parity[0]}/{parity[1]}")
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")
    with open(os.path.join(HERE, "known_defects.json"), "w") as f:
        json.dump(dict(sorted(defects.items())), f, indent=1)
        f.write("\n")
    print(f"{len(expected)} expected results, {len(defects)} known defects")


if __name__ == "__main__":
    main()
