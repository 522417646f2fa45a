"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf parquet, then compares row count, sorted column names, and
canonicalized values (rows sorted by all columns). Queries without an oracle
get a rows-only check (must run and return a stable schema).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adb_south_caucasus_etl_spark.session import get_spark  # noqa: E402
from adb_south_caucasus_etl_spark.sources.registry import TABLES  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def driver_canon(df: pd.DataFrame) -> pd.DataFrame:
    """Replica of the DRIVER's canonicalization: ``sort_values`` over all
    columns on the raw frame — no stringify. A multi-column pandas sort
    lexsorts via factorize, which HASHES cells, so container-typed cells
    (list/ndarray/dict) raise ``TypeError: unhashable type`` exactly as
    they do driver-side. Applied to every query, including rows-only
    ones: r4's ``agg_percentile_approx`` red row was invisible locally
    precisely because the rows-only path skipped this step (the local
    ``canon`` below stringifies first, which swallows the crash).
    """
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for a stable, engine-neutral sort (floats already rounded
    # by the queries themselves)
    as_str = df.astype(str)
    order = as_str.sort_values(list(as_str.columns)).index
    return df.loc[order].reset_index(drop=True)


def kinds_compatible(s_kind: str, d_kind: str) -> bool:
    """Dtype KINDS that survive the driver's stringify-hash (see
    tests/test_dtype_parity.py): int-width and date-vs-datetime diffs are
    proven benign; int-vs-float is the class that red-stamps."""
    if s_kind == d_kind:
        return True
    if s_kind in ("i", "u") and d_kind in ("i", "u"):
        return True
    return s_kind == "O" and d_kind == "M"


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    for c in s_cols:
        sk, dk = spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind
        if not kinds_compatible(sk, dk):
            problems.append(
                f"dtype kind mismatch in {c!r}: spark={spark_pdf[c].dtype} "
                f"duck={duck_pdf[c].dtype} (int-vs-float red-stamps "
                "driver-side even when values match)"
            )
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            # PRIMARY gate: stringify EVERY dtype before comparing —
            # this is what the driver hashes, so any rendering
            # divergence (e.g. -0.0 vs 0.0, found r9 in
            # finance_price_volume_mix) must fail HERE exactly as it
            # fails driver-side. The old float-aware numeric path let
            # IEEE ``-0.0 == 0.0`` green a query the driver red-stamped.
            neq = av.astype(str) != bv.astype(str)
            if neq.any():
                i = int(neq.idxmax())
                # SECONDARY diagnostic: is the divergence numeric value
                # drift or only a rendering difference of equal values?
                label = "values differ"
                if av.dtype.kind == "f" or bv.dtype.kind == "f":
                    an = pd.to_numeric(av, errors="coerce")
                    bn = pd.to_numeric(bv, errors="coerce")
                    num_eq = (an == bn) | (an.isna() & bn.isna())
                    if bool(num_eq[neq].all()):
                        label = (
                            "RENDERING differs (numeric values equal — "
                            "still a driver red)"
                        )
                problems.append(
                    f"{label} in {c!r}: e.g. row {i} "
                    f"spark={a[c].iloc[i]!r} duck={b[c].iloc[i]!r} "
                    f"({int(neq.sum())} rows)"
                )
    return problems


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("check_oracle")
    con = duck_con(sf_dir)
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            failed.append(name)
            continue
        try:
            driver_canon(sdf)
        except Exception as e:
            print(f"FAIL {name}: driver canonicalizer would crash: {e!r}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, cols={sorted(sdf.columns)})")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb oracle raised")
            traceback.print_exc()
            failed.append(name)
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok   {name}: {len(sdf)} rows match")
    ran = len([n for n in queries if not only or n in only])
    print(f"\n{ran - len(failed)}/{ran} ok" + ("" if not only else " (subset)"))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
