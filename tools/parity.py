"""Local twin of the driver's correctness gate.

Runs every registered query in Spark and its oracle in DuckDB at the given
SF, then compares row count, column names/sorted order, and an
order-insensitive exact value comparison (floats compared bit-for-bit after
both sides round-trip through the same canonicalization — the driver hashes,
so we treat ANY difference as failure).

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from messikinesisprovider_spark.registry import all_specs
from messikinesisprovider_spark.session import TABLES, get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def duck_connect(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written multi-file table (the multi-split spread-gate
            # fixture): DuckDB needs the glob, Spark reads the dir as-is.
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize for sort: all to string via repr of python objects.
    # NA cells must share ONE token first: Spark hands None ('None') where
    # DuckDB hands NaN ('nan') in object columns (e.g. a NULL boolean), and
    # differing sort keys would misalign otherwise-identical row sets.
    key = df.astype(str).mask(df.isna(), "\x00NULL")
    order = key.sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    # dtype drift doesn't fail the value compare but may fail a strict
    # schema hash — surface it loudly. Exception: Spark's toPandas always
    # yields datetime64[ns] while DuckDB yields [us]; same instants, not
    # controllable from query code, so it's a note rather than a failure.
    for col in a.columns:
        da, db = str(a[col].dtype), str(b[col].dtype)
        if da != db:
            if {da, db} == {"datetime64[ns]", "datetime64[us]"}:
                print(f"      note  {col}: timestamp unit ns (spark pandas) vs us (duckdb)")
            else:
                problems.append(f"DTYPE col {col}: spark={da} duck={db}")
    if len(a) == len(b):
        for col in a.columns:
            av, bv = a[col], b[col]
            try:
                eq = (av.isna() & bv.isna()) | (av == bv)
            except Exception:
                eq = av.astype(str) == bv.astype(str)
            neq = (~eq.fillna(False)).to_numpy().nonzero()[0]
            if len(neq):
                i = int(neq[0])
                problems.append(
                    f"col {col}: {len(neq)} diffs, first at row {i}: "
                    f"spark={av.iloc[i]!r} duck={bv.iloc[i]!r} "
                    f"(types {av.dtype}/{bv.dtype})"
                )
    return problems


def main():
    only = set(sys.argv[2:])
    spark = get_spark("parity")
    con = duck_connect(SF_DIR)
    specs = all_specs()
    failures = checked = 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            spark_pdf = spec.fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(spark_pdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.execute(spec.oracle).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"ok    {name}: {len(spark_pdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{failures} failures / {checked} queries at {SF_DIR}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
