from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sycl_mapreduce_cpu_gpu_hybrid_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # 8g, not get_spark's 16g default: the default is all of a 16 GiB
    # host's RAM, and tier-1 must fit beside tests/parity.py
    s = get_spark(
        app_name="tests",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture()
def forced(monkeypatch):
    """SMRGH_FORCE_DISTRIBUTED for one test: every driver-local tier
    off, the distributed twins run (plans/budget.py)."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.plans import budget

    monkeypatch.setenv(budget.FORCE_DISTRIBUTED_ENV, "1")
    yield


@pytest.fixture()
def read_floor(spark):
    """``with read_floor("1b"):`` sets the session's one-partition read
    floor (AQE's minPartitionSize, sources.tables.read_parquet) for a
    block, so a plan-shape check can run above and below it."""
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

    @contextlib.contextmanager
    def at(value: str):
        prior = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            yield
        finally:
            spark.conf.set(key, prior)

    return at


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
