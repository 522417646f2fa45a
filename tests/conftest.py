from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adb_south_caucasus_etl_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


class _FleetCache:
    """ONE fn() build and ONE sf0.001 execution per registered query,
    shared by the four fleet-wide sweeps (dtype parity, negzero guard,
    plan audit, scan census). Before r16 each sweep rebuilt — and two of
    them re-executed — every query independently, so the expensive
    build-time side effects (index builds, staged pipeline writes, CC
    loops) ran up to four times per suite run; the suite wall blew past
    the driver's pytest budget (VERIFY_r15 tests_ok=false was a
    truncation at ~75%). The checks themselves are unchanged — they
    just read the same DataFrame / result / final adaptive plan.

    NOTE for test authors: ``df(name)`` frames are session-cached — do
    not mutate catalog/session state in ways that would invalidate
    them; ``final_plan(name)`` returns the AQE-final plan (execution is
    forced via ``pdf``)."""

    def __init__(self, spark):
        self._spark = spark
        self._dfs: dict = {}
        self._pdfs: dict = {}

    def df(self, name: str):
        if name not in self._dfs:
            from adb_south_caucasus_etl_spark.workload import WORKLOAD

            df = WORKLOAD[name].fn(self._spark, SF_SMALL)
            # execute IMMEDIATELY, atomically with the build: queries
            # that read scratch artifacts written during fn() hold a
            # file listing that goes STALE if a functional test running
            # between the sweeps rewrites the same scratch directory
            # (overwrite deletes the listed files) — a deferred
            # toPandas then dies with FAILED_READ_FILE.FILE_NOT_EXIST.
            # Executing here pins the result while the artifact is
            # live; nothing is cached on failure so a retry rebuilds.
            pdf = df.toPandas()
            self._dfs[name] = df
            self._pdfs[name] = pdf
        return self._dfs[name]

    def pdf(self, name: str):
        self.df(name)
        return self._pdfs[name]

    def final_plan(self, name: str) -> str:
        df = self.df(name)
        self.pdf(name)  # ensure the plan is executed (AQE-final)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]


@pytest.fixture(scope="session")
def fleet(spark) -> _FleetCache:
    return _FleetCache(spark)
