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


class _LogLines(list):
    """Messages metrics.log delivered while the test ran."""

    def fields(self, op: str) -> dict[str, str]:
        """key=value fields of the one log line of `op`."""
        (line,) = [m for m in self if m.split()[0] == op]
        return dict(kv.split("=") for kv in line.split()[1:])


@pytest.fixture
def engine_log(monkeypatch):
    """Capture the engine's metrics.log lines at level info for one
    test; the previous callback and level come back afterwards."""
    from inputosm_spark import metrics

    got = _LogLines()
    monkeypatch.setattr(metrics, "_log_callback", None)
    monkeypatch.setattr(metrics, "_log_level", "info")
    metrics.set_log_callback(lambda level, msg: got.append(msg))
    return got
