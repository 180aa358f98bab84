"""Tests of the benchmark's own code (not of the engine).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, covered, parse_metric  # noqa: E402
from workloads import diff_frames, diff_values  # noqa: E402


@pytest.fixture
def cache(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CACHE", str(tmp_path))
    return tmp_path


def _files(d) -> dict[str, bytes]:
    out = {}
    for base, _, fs in os.walk(d):
        for f in fs:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_spatial_inputs_are_byte_identical_per_seed(cache):
    d1, m1 = gen.spatial_inputs(3, n=20_000)
    first = _files(d1)
    os.rename(d1, d1 + "-old")
    d2, m2 = gen.spatial_inputs(3, n=20_000)
    assert d1 == d2 and m1 == m2
    assert _files(d2) == first


def test_spatial_seeds_differ_and_keep_their_shape():
    a, boxes_a, q_a = gen.spatial_points(1, 50_000)
    b, boxes_b, q_b = gen.spatial_points(2, 50_000)
    assert not np.array_equal(a["id"], b["id"])
    assert not np.array_equal(a["lat_e4"], b["lat_e4"])
    assert boxes_a != boxes_b and q_a != q_b
    for cols, boxes, qs in ((a, boxes_a, q_a), (b, boxes_b, q_b)):
        assert len(np.unique(cols["id"])) == 50_000
        assert len(qs) == gen.N_QUERIES
        assert len(boxes) == 13 + gen.N_CLUSTERS
        # each cluster holds its share of the points inside a 1 x 1 degree square
        for _, lat0, _, lon0, _ in boxes[13:]:
            clat = lat0 + gen.CLUSTER_BOX_HALF_E4
            clon = lon0 + gen.CLUSTER_BOX_HALF_E4
            near = ((abs(cols["lat_e4"] - clat) <= gen.CLUSTER_HALF_E4)
                    & (abs(cols["lon_e4"] - clon) <= gen.CLUSTER_HALF_E4))
            assert near.sum() >= 50_000 * gen.CLUSTER_SHARE / gen.N_CLUSTERS


def test_query_inputs_are_byte_identical_per_seed(cache):
    rows = {t: 50 for t in gen.QUERY_ROWS}
    d1, m1 = gen.query_inputs(5, rows)
    first = _files(d1)
    os.rename(d1, d1 + "-old")
    d2, m2 = gen.query_inputs(5, rows)
    d3, _ = gen.query_inputs(6, rows)
    assert m1 == m2 and _files(d2) == first
    other = _files(d3)
    assert set(other) == set(first)
    assert all(other[f] != first[f] for f in first if f.endswith(".parquet"))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metric_names_match_benchmark_json():
    class Wl:
        n_docs, input_bytes = 1000, 4096

    values = run.end_to_end(Wl(), 2.0, [0.5, 0.6, 0.7], {"a": [0.2, 0.3], "b": [0.1]},
                            [8192, 9000], 512.0)
    assert set(values) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(v > 0 for v in values.values())


def _fake_run(steps: list[str]):
    """A Run whose two traced passes ran the given steps."""

    class Eng:
        cpus = 4

    r = run.Run(workload=None, engine=Eng(), tracer=Tracer("t"))
    for _ in range(2):
        r.traced_passes.append({
            "wall_s": 2.0, "persisted_rdds": 0,
            "spans": [{"name": "call:x", "start": 0.0, "end": 0.25}],
            "steps": {s: {"wall_s": 0.5, **{k: 1.0 for k in run.SUMMED},
                          "spark.task_skew": 1.5, "executions": []}
                      for s in steps},
        })
    return r


@pytest.mark.parametrize("workload", ["spatial_join", "query_mix"])
def test_per_layer_metric_names_match_benchmark_json(workload):
    from workloads import WORKLOADS, QueryMix, SpatialJoin

    steps = ([name for name, _ in SpatialJoin.steps(_Steps())] if workload == "spatial_join"
             else [f"query.{q}" for q in QueryMix.QUERIES])
    assert workload in WORKLOADS
    r = _fake_run(steps)
    values = run.layer_metrics(r, [1.0, 1.1], [1.2, 1.3], 0.9)
    assert set(values) == {m["name"] for m in _spec()["per_layer"]}


class _Steps:
    """Stands in for a workload instance when only step names are needed."""

    def __getattr__(self, name):
        return lambda *a: None


def test_corrupted_output_counts_as_failed():
    good = pd.DataFrame({"cell": [1, 2, 3], "cnt": [10, 20, 30]})
    bad = good.copy()
    bad.loc[1, "cnt"] = 21
    assert diff_frames(good.sample(frac=1, random_state=0), good) is None
    assert "differ" in diff_frames(bad, good)
    assert "rows" in diff_frames(good.iloc[:2], good)
    assert diff_values({"n": 1}, {"n": 2}) is not None

    class Corrupted:
        def checks(self, digests):
            return [("ok", lambda: diff_frames(digests["ok"], good)),
                    ("corrupted", lambda: diff_frames(digests["corrupted"], good)),
                    ("raises", lambda: 1 / 0)]

    r = run.Run(Corrupted(), engine=None, tracer=Tracer("t"))
    r.digests = {"ok": good, "corrupted": bad}
    results = r.check()
    assert [c["ok"] for c in results] == [True, False, False]
    assert r.attempted == 3 and len(r.failures) == 2
    assert len(r.failures) / r.attempted > 0


def test_query_check_flags_a_corrupted_result(cache):
    """A query whose result differs from its oracle by one value fails."""
    import __spark_entry__ as entry
    from inputosm_spark.oracle_compare import duck_con, frame_hash
    from workloads import QueryMix

    d, manifest = gen.query_inputs(7, {t: 200 for t in gen.QUERY_ROWS})
    wl = QueryMix(d, manifest)
    wl.oracles = entry.oracle_sql()
    want = duck_con(d).execute(wl.oracles["tpch_q1_pricing"]).df()
    bad = want.copy()
    bad.iloc[0, bad.columns.get_loc("count_order")] += 1
    good_checks = dict(wl.checks({"query.tpch_q1_pricing": frame_hash(want)}))
    assert good_checks["tpch_q1_pricing"]() is None
    assert good_checks["sessionize"]() == "the check pass produced no output"
    r = run.Run(wl, engine=None, tracer=Tracer("t"))
    r.digests = {"query.tpch_q1_pricing": frame_hash(bad)}
    r.check()
    assert "check:tpch_q1_pricing" in {f["op"] for f in r.failures}
    assert len(r.failures) / r.attempted > 0


def test_span_self_time_and_interval_union():
    tr = Tracer("t", enabled=True)
    tr.spans = [
        {"id": 0, "name": "step", "parent": None, "run": "t", "start": 0.0, "end": 10.0},
        {"id": 1, "name": "call", "parent": 0, "run": "t", "start": 1.0, "end": 4.0},
        {"id": 2, "name": "action", "parent": 0, "run": "t", "start": 3.0, "end": 6.0},
    ]
    assert tr.self_times() == {0: 5.0, 1: 3.0, 2: 3.0}
    assert covered([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_parse_metric():
    assert parse_metric("total (min, med, max (stageId: taskId))\n7.2 s (1.7 s, 1.8 s, "
                        "1.9 s (stage 0.0: task 2))") == pytest.approx(7.2)
    assert parse_metric("1953.7 KiB") == pytest.approx(1953.7 * 1024)
    assert parse_metric("857 ms") == pytest.approx(0.857)
    assert parse_metric("1,234") == 1234
