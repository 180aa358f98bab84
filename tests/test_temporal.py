"""Temporal joins: as-of carry-forward semantics (ties, no-match,
tolerance) and interval-join boundary rules."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from inputosm_spark.operators import temporal


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_semantics_and_tolerance(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 100),  # before any state -> NULL
            (1, _ts("2024-01-01 12:00:00"), 101),  # exactly AT state -> sees it
            (1, _ts("2024-01-01 13:00:00"), 102),  # after -> latest state
            (2, _ts("2024-01-01 12:30:00"), 201),  # other key
        ],
        "k long, ts timestamp, event int",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 12:00:00"), 1.0),
            (1, _ts("2024-01-01 12:30:00"), 2.0),
            (2, _ts("2024-01-01 09:00:00"), 9.0),
        ],
        "k long, ts timestamp, v double",
    )
    got = {r.event: r.v for r in
           temporal.asof_join(left, right, key="k").collect()}
    assert got == {100: None, 101: 1.0, 102: 2.0, 201: 9.0}

    # tolerance: 201's state is 3.5h old -> dropped at 1h tolerance
    got_tol = {r.event: r.v for r in
               temporal.asof_join(left, right, key="k",
                                  tolerance_s=3600).collect()}
    assert got_tol == {100: None, 101: 1.0, 102: 2.0, 201: None}


def test_asof_forward_and_nearest(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 100),  # fwd -> 12:00 state
            (1, _ts("2024-01-01 12:00:00"), 101),  # AT state -> sees it (both)
            (1, _ts("2024-01-01 13:00:00"), 102),  # fwd -> NULL; nearest -> 12:30
            (1, _ts("2024-01-01 12:14:00"), 103),  # nearest tie-ish: 14min back vs 16min fwd -> backward
            (1, _ts("2024-01-01 12:15:00"), 104),  # EXACT tie 15/15 -> backward wins
            (2, _ts("2024-01-01 08:00:00"), 201),  # fwd -> 09:00 state
        ],
        "k long, ts timestamp, event int",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 12:00:00"), 1.0),
            (1, _ts("2024-01-01 12:30:00"), 2.0),
            (2, _ts("2024-01-01 09:00:00"), 9.0),
        ],
        "k long, ts timestamp, v double",
    )
    fwd = {r.event: r.v for r in
           temporal.asof_join(left, right, key="k",
                              direction="forward").collect()}
    assert fwd == {100: 1.0, 101: 1.0, 102: None, 103: 2.0, 104: 2.0,
                   201: 9.0}

    near = {r.event: r.v for r in
            temporal.asof_join(left, right, key="k",
                               direction="nearest").collect()}
    assert near == {100: 1.0, 101: 1.0, 102: 2.0, 103: 1.0, 104: 1.0,
                    201: 9.0}

    # forward tolerance: 100's next state is 2h ahead -> dropped at 1h
    fwd_tol = {r.event: r.v for r in
               temporal.asof_join(left, right, key="k",
                                  direction="forward",
                                  tolerance_s=3600).collect()}
    assert fwd_tol[100] is None and fwd_tol[101] == 1.0

    import pytest

    with pytest.raises(ValueError, match="direction"):
        temporal.asof_join(left, right, key="k", direction="sideways")


def test_interval_join_half_open_boundaries(spark):
    pts = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01 02:00:00")),  # == start -> IN
            (2, 1, _ts("2024-01-01 04:59:59")),  # just inside
            (3, 1, _ts("2024-01-01 05:00:00")),  # == end -> OUT (half-open)
            (4, 2, _ts("2024-01-01 03:00:00")),  # wrong key -> OUT
        ],
        "event_id long, grp long, ts timestamp",
    )
    ivals = spark.createDataFrame(
        [(1, _ts("2024-01-01 02:00:00"), _ts("2024-01-01 05:00:00"))],
        "grp long, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(r.event_id for r in
                 temporal.interval_join(pts, ivals, key="grp").collect())
    assert got == [1, 2]


def _asof_fixture(spark, seed=13):
    """Randomized skewed fixture: one hot key (incl. a NULL key) holding
    most rows, duplicate probe timestamps, states with NULL value
    columns sprinkled in."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n_l, n_r = 400, 120
    keys = [None, 1, 1, 1, 2, 3]  # hot NULL + hot 1
    base = dt.datetime(2024, 1, 1)
    lrows = [
        (
            keys[int(rng.integers(len(keys)))],
            base + dt.timedelta(seconds=int(rng.integers(0, 86400))),
            i,
        )
        for i in range(n_l)
    ]
    rrows = []
    seen = set()
    for _ in range(n_r):
        k = keys[int(rng.integers(len(keys)))]
        ts = base + dt.timedelta(seconds=int(rng.integers(0, 86400)))
        if (k, ts) in seen:  # right side unique per (key, ts) contract
            continue
        seen.add((k, ts))
        v = None if rng.random() < 0.2 else float(rng.integers(0, 1000))
        w = None if rng.random() < 0.2 else int(rng.integers(0, 100))
        rrows.append((k, ts, v, w))
    left = spark.createDataFrame(lrows, "k long, ts timestamp, event long")
    right = spark.createDataFrame(
        rrows, "k long, ts timestamp, v double, w long"
    )
    return left, right


def test_asof_bucketed_equals_unbucketed(spark):
    """The skew-safe two-pass carry must reproduce the single-window
    result bit-for-bit: all directions, NULL keys, NULL value columns,
    tolerance, and bucket sizes from one-bucket-total down to
    near-one-row-per-bucket."""
    left, right = _asof_fixture(spark)
    for direction in ("backward", "forward", "nearest"):
        want = sorted(
            map(
                tuple,
                temporal.asof_join(
                    left, right, key="k", direction=direction,
                    tolerance_s=6 * 3600,
                ).collect(),
            ),
            key=repr,
        )
        for bucket_s in (10**9, 7200, 61):
            got = sorted(
                map(
                    tuple,
                    temporal.asof_join(
                        left, right, key="k", direction=direction,
                        tolerance_s=6 * 3600, bucket_s=bucket_s,
                    ).collect(),
                ),
                key=repr,
            )
            assert got == want, (direction, bucket_s)


def test_asof_bucketed_fixture_semantics(spark):
    """The hand-built boundary/tie fixture passes through the bucketed
    path unchanged (ties share a bucket by construction of floor)."""
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 100),
            (1, _ts("2024-01-01 12:00:00"), 101),
            (1, _ts("2024-01-01 13:00:00"), 102),
            (2, _ts("2024-01-01 12:30:00"), 201),
        ],
        "k long, ts timestamp, event int",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 12:00:00"), 1.0),
            (1, _ts("2024-01-01 12:30:00"), 2.0),
            (2, _ts("2024-01-01 09:00:00"), 9.0),
        ],
        "k long, ts timestamp, v double",
    )
    got = {r.event: r.v for r in
           temporal.asof_join(left, right, key="k",
                              bucket_s=1800).collect()}
    assert got == {100: None, 101: 1.0, 102: 2.0, 201: 9.0}


def test_asof_bucketed_plan_has_no_key_only_event_window(spark):
    """Scale assertion: with bucket_s, no window over the EVENT rows
    partitions on the key alone — the only per-key window runs over the
    one-row-per-(key, bucket) summary, so a hot key's events spread
    across (key, bucket) tasks."""
    left, right = _asof_fixture(spark)
    plan = temporal.asof_join(
        left, right, key="k", bucket_s=3600
    )._jdf.queryExecution().optimizedPlan().toString()
    import re

    # event-row windows must partition by [__k, __bck]; the summary
    # window (over aggregated __sb_*/ __sf_* columns) may be key-only
    wins = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    event_wins = [w for w in wins if "__bck" in w or "__sb" in w
                  or "__sbck" in w]
    assert wins, "expected window specs in plan"
    for w in re.findall(r"Window \[.*?windowspecdefinition\((.*?), __ts", plan):
        assert "__bck" in w, f"event window partitions on key alone: {w}"


def test_interval_join_salted_equals_unsalted(spark):
    """Salting must be result-invariant, including on a hot (key,
    bucket) with EXACT-DUPLICATE point rows (the case a content-derived
    salt would fail to spread — and a wrong fan-out would duplicate)."""
    base = dt.datetime(2024, 1, 1, 3, 0, 0)
    pts = spark.createDataFrame(
        [(i % 50, 1, base + dt.timedelta(seconds=(i % 7) * 60))
         for i in range(2000)],  # many duplicates, one hot hour
        "event_id long, grp long, ts timestamp",
    )
    ivals = spark.createDataFrame(
        [(1, _ts("2024-01-01 02:30:00"), _ts("2024-01-01 03:30:00")),
         (1, _ts("2024-01-01 03:05:00"), _ts("2024-01-01 03:06:00")),
         (2, _ts("2024-01-01 03:00:00"), _ts("2024-01-01 04:00:00"))],
        "grp long, start_ts timestamp, end_ts timestamp",
    )
    want = sorted(map(tuple, temporal.interval_join(
        pts, ivals, key="grp").collect()), key=repr)
    got = sorted(map(tuple, temporal.interval_join(
        pts, ivals, key="grp", n_salt=16).collect()), key=repr)
    assert got == want and len(want) > 0


def test_event_path_ngrams_counts(spark):
    from inputosm_spark.operators import temporal

    rows = [
        (1, 1, "2024-01-01 00:00:00", "a"),
        (1, 2, "2024-01-01 00:01:00", "b"),
        (1, 3, "2024-01-01 00:02:00", "c"),
        (1, 4, "2024-01-01 00:03:00", "a"),
        (2, 5, "2024-01-01 00:00:00", "a"),
        (2, 6, "2024-01-01 00:01:00", "b"),
        (2, 7, "2024-01-01 00:02:00", "c"),
        (3, 8, "2024-01-01 00:00:00", "x"),  # < n events: no grams
        (3, 9, "2024-01-01 00:01:00", "y"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.path: r.n for r in temporal.event_path_ngrams(df, n=3).collect()}
    assert got == {"a>b>c": 2, "b>c>a": 1}
