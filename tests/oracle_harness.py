"""Self-check harness mirroring the driver's correctness gate.

For every entry in ``__spark_entry__.queries()``: run the Spark query and
its ``oracle_sql()`` on DuckDB over the same parquet tables, then compare
row count, column names, and values (order-insensitive: columns sorted by
name, rows sorted by all columns). Floats must match EXACTLY — the driver
hashes values, so a 1-ulp difference is a failure; queries are expected to
round any order-sensitive float aggregate.

Usage: python tests/oracle_harness.py [--sf DIR] [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            # compare at microsecond precision: Spark timestamps are µs
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
    # sort by non-float columns first: float columns may differ at the
    # last ulp between engines, and using them as leading sort keys would
    # misalign rows and cascade spurious mismatches into every column
    floats = [c for c in df.columns if pd.api.types.is_float_dtype(df[c])]
    key = [c for c in df.columns if c not in floats] + floats
    return df.sort_values(key, key=lambda s: s.map(str)).reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"columns: spark={sc} oracle={oc}")
    if problems:
        return problems
    s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(ov):
            eq = (sv.isna() & ov.isna()) | (sv == ov)
            if not eq.all():
                bad = (~eq).sum()
                with np.errstate(all="ignore"):
                    maxdiff = float(np.nanmax(np.abs(sv - ov)))
                problems.append(
                    f"col {c}: {bad} float mismatches (max abs diff {maxdiff:.3e})"
                )
        else:
            eq = (sv.isna() & ov.isna()) | (sv.astype(str) == ov.astype(str))
            if not eq.all():
                i = int((~eq).idxmax())
                problems.append(
                    f"col {c}: {( ~eq).sum()} mismatches, first at row {i}: "
                    f"spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r}"
                )
    return problems


def make_duckdb(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    """A DuckDB connection with the driver's tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_query(spark, con, name: str, sf_dir: str) -> list[str]:
    """Run one registered query against its DuckDB oracle; return the
    list of discrepancies (empty = hash-equivalent under the driver's
    sorted-columns/sorted-rows comparison). Rows-only queries (no
    oracle) are checked for successful execution only."""
    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, sf_dir).toPandas()
    sql = entry.oracle_sql().get(name)
    if sql is None:
        return []
    odf = con.sql(sql).df()
    return compare(name, sdf, odf)


def run(sf_dir: str, only: list[str] | None = None) -> int:
    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entry
    from dbt_datbricks_demo_spark.session import get_spark

    spark = get_spark(app_name="oracle-harness")
    con = make_duckdb(sf_dir)

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = only or list(queries)
    failures = 0
    for name in names:
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"ERROR  {name}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP   {name}: no oracle (rows-only: {len(sdf)} rows)")
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"ERROR  {name}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL   {name}")
            for p in problems:
                print(f"       {p}")
        else:
            print(f"OK     {name} ({len(sdf)} rows, {len(sdf.columns)} cols)")
    print(f"\n{len(names) - failures}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    sys.exit(run(args.sf, args.queries or None))
