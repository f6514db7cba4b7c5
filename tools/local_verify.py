"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, then compares row count, column
names, and order-insensitive values (columns sorted by name, rows
sorted, exact match after canonicalization).  Usage:

    python tools/local_verify.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import gc
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from geocoordinateconverter_spark.plans.session import build_session  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"schema: spark={sorted(a.columns)} oracle={sorted(b.columns)}"]
    if len(a) != len(b):
        errs.append(f"rowcount: spark={len(a)} oracle={len(b)}")
        return errs
    ca, cb = canon(a), canon(b)
    for c in ca.columns:
        va, vb = ca[c], cb[c]
        if va.dtype.kind == "f" or vb.dtype.kind == "f":
            va = va.astype("float64")
            vb = vb.astype("float64")
            neq = ~((va == vb) | (va.isna() & vb.isna()))
        else:
            try:
                neq = va.astype(str) != vb.astype(str)
            except Exception:
                neq = va != vb
        n = int(neq.sum())
        if n:
            i = neq.idxmax()
            errs.append(f"col {c}: {n}/{len(va)} mismatches; first: "
                        f"spark={ca[c][i]!r} oracle={cb[c][i]!r} row={ca.iloc[i].to_dict()}")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    # codegen fallback off: a whole-stage method beyond the JVM's 64 KB
    # limit fails its query here instead of silently running interpreted
    spark = build_session("local-verify", cores=8, shuffle_partitions=8,
                          extra={"spark.sql.codegen.fallback": "false"})

    def fresh_con():
        # Fresh connection per query with an explicit cap: DuckDB's
        # default memory_limit is 80 % of RAM and its buffer pool can
        # pin allocations across queries — an 87-query sweep through
        # one connection exhausted the box (observed: every later
        # query, BOTH engines, failing 16 KB mallocs).
        c = duckdb.connect()
        c.execute("SET memory_limit='16GB'")
        c.execute("SET threads TO 8")
        for t in entrymod.TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                      f"read_parquet('{sf_dir}/{t}.parquet')")
        return c

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        unknown = sorted(set(only) - set(qs))
        if unknown:
            # a misspelled name must NOT produce a '0 passed' exit-0
            # false green (r4 review finding)
            print(f"ERROR: unknown query name(s): {unknown}")
            return 2
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"pass {name}: rows={len(sdf)} (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            con = fresh_con()
            try:
                odf = con.execute(oracles[name]).df()
            finally:
                con.close()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            n_fail += 1
            continue
        errs = compare(name, sdf, odf)
        if errs:
            print(f"FAIL {name}: " + " | ".join(errs[:3]))
            n_fail += 1
        else:
            print(f"pass {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
        # per-query hygiene: drop the large pandas frames
        del sdf, odf
        gc.collect()
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
