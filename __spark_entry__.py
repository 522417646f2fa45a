"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` expose the full named workload from
``adb_south_caucasus_etl_spark.workload`` for the DuckDB correctness gate,
in registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from adb_south_caucasus_etl_spark.workload import WORKLOAD, cube_flagship_revenue

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return cube_flagship_revenue(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: e.fn for name, e in WORKLOAD.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query; non-SQL-expressible ops
    (oracle=None) are omitted → driver records a rows-only check."""
    return {
        name: e.oracle for name, e in WORKLOAD.items() if e.oracle is not None
    }
