from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arrow_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("arrow_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def set_conf(spark):
    """Set session confs for one test: ``set_conf(key, value)``. Each
    conf gets back the value it had before the test, or is unset if it
    had none."""
    saved: dict[str, str | None] = {}

    def setter(key: str, value: str) -> None:
        if key not in saved:
            saved[key] = spark.conf.getAll.get(key)
        spark.conf.set(key, value)

    yield setter
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.fixture
def jobs_run(spark):
    """``with jobs_run() as ids:`` collects the ids of the Spark jobs the
    block submits (its job group, read once the listener bus is idle)."""
    sc = spark.sparkContext

    @contextmanager
    def run():
        group = f"jobs-run-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        ids: list[int] = []
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return run
