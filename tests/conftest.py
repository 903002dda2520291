from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from building_coffee_commodity_trading_data_warehouse_spark.session import get_spark  # noqa: E402

# sf0.001 keeps the suite fast while iterating; the driver gate runs sf0.01.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("coffee_dw_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` and returns ``{job id: job group}``
    for every Spark job it launched, on any thread: the ids strictly
    between two marker jobs. Jobs are looked up by id because the status
    store's job list is capped at ``spark.ui.retainedJobs``, which a full
    suite run passes."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def _marker() -> list:
        group = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        spark.range(1).count()
        sc._jsc.clearJobGroup()
        jsc.listenerBus().waitUntilEmpty()
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    def run(fn) -> dict:
        lo = _marker()[-1]
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        hi = _marker()[0]
        store = jsc.statusStore()
        groups = {}
        for job_id in range(lo + 1, hi):
            group = store.job(job_id).jobGroup()
            groups[job_id] = group.get() if group.isDefined() else None
        return groups

    return run
