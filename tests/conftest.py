from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_UNIT = "/root/testdata/sf0.001"   # fast unit-level checks
SF_ORACLE = "/root/testdata/sf0.01"  # the driver's correctness SF


@pytest.fixture(scope="session")
def spark():
    from dig_etl_engine_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_unit() -> str:
    return SF_UNIT


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@contextmanager
def jobs_in_group(spark, group: str):
    """Run the block under job group ``group`` and fill the yielded list
    with the descriptions of the Spark jobs it ran, oldest first (a
    job's description, else its call site) — for tests that pin how
    many jobs a code path launches, and which."""
    sc = spark.sparkContext
    jobs: list[str] = []
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        info = store.job(j)
        desc = info.description()
        jobs.append(desc.get() if desc.isDefined() else info.name())
