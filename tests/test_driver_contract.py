"""Contract of ``__spark_entry__``: ``queries()`` and ``oracle_sql()``
expose WORKLOAD in registration order (no Spark session needed)."""

import __spark_entry__ as entry
from adb_south_caucasus_etl_spark.workload import WORKLOAD


def test_queries_in_registration_order():
    q = entry.queries()
    assert list(q) == list(WORKLOAD)
    assert all(q[n] is e.fn for n, e in WORKLOAD.items())


def test_oracle_sql_in_registration_order():
    expected = {n: e.oracle for n, e in WORKLOAD.items() if e.oracle is not None}
    got = entry.oracle_sql()
    assert list(got.items()) == list(expected.items())


def test_workload_counts():
    assert len(entry.queries()) == 434
    assert len(entry.oracle_sql()) == 418
