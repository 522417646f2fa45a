"""DuckDB reference answers and result comparison.

Cube SQL is generated from the cube schema's own level, measure and join
expressions (Spark SQL expressions that DuckDB also parses), so the check
needs no second hand-written spec of the cubes.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pandas as pd

_AGG_SQL = {
    "sum": "SUM({})",
    "avg": "AVG({})",
    "min": "MIN({})",
    "max": "MAX({})",
    "count": "COUNT({})",
    "count_distinct": "COUNT(DISTINCT {})",
}


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    """One view per table over ``<data_dir>/<name>.parquet`` (or a
    directory of parquet files)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(data_dir, t)
        src = f"{path}/**/*.parquet" if os.path.isdir(path) else f"{path}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _lit(v: object) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _needed(schema, levels: list[str], measures: list[str]) -> set[str]:
    need: set[str] = set()
    for lv in levels:
        need.update(schema.level(lv).requires)
    for m in measures:
        need.update(schema.measure(m).requires)
    parent = {j.table: j.parent for j in schema.joins}
    frontier = list(need)
    while frontier:
        p = parent[frontier.pop()]
        if p and p not in need:
            need.add(p)
            frontier.append(p)
    return need


def cube_sql(schema, drilldowns, measures, cuts: dict | None) -> str:
    """SELECT … GROUP BY for one ``get_data`` call."""
    cuts = cuts or {}
    need = _needed(schema, list(drilldowns) + list(cuts), list(measures))
    sql = [f"FROM {schema.fact}"]
    sql += [
        f"JOIN {j.table} ON {j.left} = {j.right}"
        for j in schema.joins
        if j.table in need
    ]
    where = []
    for lv, raw in cuts.items():
        key = schema.level(lv).key
        vals = list(raw) if isinstance(raw, (list, tuple)) else [raw]
        where.append(
            f"({key}) = {_lit(vals[0])}"
            if len(vals) == 1
            else f"({key}) IN ({', '.join(_lit(v) for v in vals)})"
        )
    cols = [
        f"{schema.level(d).label_expr} AS {schema.level(d).out_name}"
        for d in drilldowns
    ]
    for m in measures:
        meas = schema.measure(m)
        cols.append(f"{_AGG_SQL[meas.agg].format(meas.expr)} AS {meas.out_name}")
    out = f"SELECT {', '.join(cols)} " + " ".join(sql)
    if where:
        out += " WHERE " + " AND ".join(where)
    if drilldowns:
        out += " GROUP BY " + ", ".join(str(i + 1) for i in range(len(drilldowns)))
    return out


def members_sql(schema, level: str) -> str:
    lv = schema.level(level)
    source = lv.requires[-1] if lv.requires else schema.fact
    return (
        f"SELECT DISTINCT {lv.key} AS {lv.out_name}_id, "
        f"{lv.label_expr} AS {lv.out_name} FROM {source} ORDER BY 1"
    )


def _canon(col: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(col):
        return col.dt.strftime("%Y-%m-%d %H:%M:%S")
    if col.dtype == object and len(col) and isinstance(
        col.iloc[0], (dt.date, dt.datetime)
    ):
        return pd.to_datetime(col).dt.strftime("%Y-%m-%d %H:%M:%S")
    if pd.api.types.is_numeric_dtype(col) or pd.api.types.is_bool_dtype(col):
        return col.astype("float64")
    return col.astype(str)


def mismatch(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> str | None:
    """None when the frames hold the same rows (any order; floats to a
    relative 1e-9), else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g = pd.DataFrame({c: _canon(got[c]) for c in want.columns})
    w = pd.DataFrame({c: _canon(want[c]) for c in want.columns})
    g = g.sort_values(keys, kind="stable").reset_index(drop=True)
    w = w.sort_values(keys, kind="stable").reset_index(drop=True)
    for c in want.columns:
        if g[c].dtype == "float64":
            ok = np.isclose(g[c], w[c], rtol=1e-9, atol=1e-6, equal_nan=True)
        else:
            ok = (g[c] == w[c]).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {g[c][i]!r} != {w[c][i]!r}"
    return None
