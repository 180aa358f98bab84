"""Metrics + log-callback surface (reference set_log_callback,
inputosm.h:122-130 / custom_log.cpp): callback contract, level filter,
and Observation-based two-stage metrics appended to a table."""

from __future__ import annotations

from pyspark.sql import functions as F

from inputosm_spark import metrics
from inputosm_spark.sources.registry import load_table


def test_log_callback_contract(monkeypatch):
    # the previous callback and level come back after the test
    monkeypatch.setattr(metrics, "_log_callback", None)
    monkeypatch.setattr(metrics, "_log_level", "info")
    got = []
    assert metrics.set_log_callback(None) is False  # inputosmlog.cpp:59-62
    assert metrics.set_log_callback(lambda lv, m: got.append((lv, m))) is True
    assert metrics.set_log_callback(None) is False  # keeps the callback
    metrics.set_log_level("info")
    metrics.log("debug", "dropped")   # below level
    metrics.log("warn", "kept")
    assert got == [("warn", "kept")]
    with metrics.timed_stage("stage_x"):
        pass
    assert len(got) == 2 and got[1][1].startswith("stage_x:")


def test_two_stage_metrics_rows(spark, sf_dir, tmp_path):
    """Rows in/out of a scan->filter->agg pipeline recorded per stage
    and appended to the metrics table — one job, no extra passes."""
    sm = metrics.StageMetrics("run-t")
    docs = sm.observe(
        load_table(spark, sf_dir, "documents"), "scan", bytes_col="text"
    )
    filtered = sm.observe(docs.filter(F.col("n_chars") > 100), "filter")
    out = filtered.groupBy().agg(F.count("*").alias("n"))
    n_out = out.first().n  # the action that materializes both observations

    vals = sm.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert vals["scan"]["rows"] == n_docs
    assert vals["scan"]["bytes"] > 0
    assert vals["filter"]["rows"] == n_out < n_docs

    loc = str(tmp_path / "metrics_table")
    sm.append_to(spark, loc)
    tbl = spark.read.parquet(loc)
    assert tbl.filter("stage = 'scan' AND metric = 'rows'").first().value == n_docs
    assert {r.stage for r in tbl.select("stage").distinct().collect()} == {
        "scan", "filter",
    }
    assert tbl.schema.simpleString().startswith(
        "struct<run_id:string,stage:string,metric:string,value:double>"
    )


def test_duration_to_str_reference_format():
    """Unit escalation matches timeutil.cpp:59-90 exactly."""
    assert metrics.duration_to_str(999) == "999 ns"
    assert metrics.duration_to_str(1_500) == "1.500 μs"
    assert metrics.duration_to_str(2_345_000) == "2.345 ms"
    assert metrics.duration_to_str(3_456_000_000) == "3.456 s"
    assert metrics.duration_to_str(62_000_000_000) == "1 minutes 2 seconds"
    assert metrics.duration_to_str(3_725_000_000_000) == (
        "1 hours 2 minutes 5 seconds"
    )


def test_now_helpers_monotonic_scale():
    ms, us = metrics.now_ms(), metrics.now_us()
    assert abs(us // 1000 - ms) <= 2          # same clock, right units
    assert ms > 1_600_000_000_000             # epoch milliseconds
