from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast test startup


@pytest.fixture(scope="session")
def spark():
    from inputosm_spark import get_spark

    s = get_spark(shuffle_partitions=8, app_name="inputosm_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture
def no_broadcast(spark):
    """Disable broadcasting for one test, which sends every gated
    operator down its distributed (above-the-cap) branch and plans
    unhinted joins as shuffles."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, orig)
