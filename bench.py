#!/usr/bin/env python
"""Benchmark harness (driver contract) and the repo's one timing loop.

Runs every catalog query (``queries()``) at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the no-op sink (``format("noop")``)
so the measurement covers scan -> shuffle -> agg/join without driver
collect overhead — the same methodology as the reference's integration
benchmarks (count_all et al. timed end-to-end over the planet file,
/root/reference/README.md:396-416).

``python bench.py [query ...]`` runs only the named queries, in that
order. Without ``$SPARK_GRAFT_CPUS`` the session takes every core;
``BENCH_REPS`` (default 3) sets the timed reps per query, of which the
best is reported. For a quiet-host headline number, pin the whole
process tree: ``taskset -c 0-3 python bench.py flagship cell_assign
pip_join_boxes knn_join tile_counts salted_cell_count dedup_keep_best``.

``timed`` is the one warm-up + timed-reps loop; the ``scripts/bench_*``
harnesses call it too. Scaling-efficiency evidence (north_rule: N vs 4N
executors) lives in ``scripts/bench_scaling.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def materialize(df) -> int:
    """Run the full plan through the no-op sink; return row count cheaply.

    noop sink executes every operator (including the final ones) with
    zero write cost; a separate count() would re-run the plan, so we
    return -1 and let correctness live in the oracle gate.
    """
    df.write.format("noop").mode("overwrite").save()
    return -1


def timed(run: Callable[[], object], reps: int) -> list[float]:
    """One UNTIMED ``run()``, then ``reps`` timed calls; their walls in s.

    The untimed call takes the Python-worker spawn, JIT and shuffle-file
    page cache. Callers report the minimum: the documented failure
    mode of a shared host is a single contended minute printing a 9x outlier
    (round-3 repetition_score read 12.1 s vs a quiet-box 1.31 s), and
    warm-up + best-of-3 needs all three timed reps to hit contention
    to lie (BASELINE.md §scaling).
    """
    run()
    walls = []
    for _ in range(reps):
        t0 = time.monotonic()
        run()
        walls.append(time.monotonic() - t0)
    return walls


def main(argv: list[str] | None = None) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry_mod
    from inputosm_spark import get_spark

    qs = entry_mod.queries()
    names = sys.argv[1:] if argv is None else argv
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise ValueError(f"unknown queries: {', '.join(unknown)}")

    spark = get_spark(app_name="inputosm_spark_bench")
    cpus = spark.sparkContext.master[len("local["):-1]

    # estimate corpus scale for the docs/sec headline metric
    from inputosm_spark.sources.registry import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()

    # warm the JVM + parquet footers once with the cheapest query
    materialize(qs["count_all"](spark, sf_dir))

    n_reps = int(os.environ.get("BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names or qs:
        fn = qs[name]
        try:
            walls = timed(lambda: materialize(fn(spark, sf_dir)), n_reps)
            timings[name] = round(min(walls), 3)
        except Exception as e:  # one bad query must not kill the round
            errors[name] = f"{type(e).__name__}: {e}"[:200]

    total = round(sum(timings.values()), 3)
    spatial_core = ("flagship", "cell_assign", "pip_join_boxes", "knn_join",
                    "tile_counts", "salted_cell_count")
    spatial_s = sum(timings.get(q, 0.0) for q in spatial_core)
    docs_per_sec = round(n_docs * sum(q in timings for q in spatial_core) / spatial_s) \
        if spatial_s > 0 else 0

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline-suite wall clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "n_documents": n_docs,
        "spatial_docs_per_sec": docs_per_sec,
        **({"errors": errors} if errors else {}),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
