#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs every catalog query (``queries()``) at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the no-op sink (``format("noop")``)
so the measurement covers scan -> shuffle -> agg/join without driver
collect overhead — the same methodology as the reference's integration
benchmarks (count_all et al. timed end-to-end over the planet file,
/root/reference/README.md:396-416).

Scaling-efficiency evidence (north_rule: N vs 4N executors) lives in
``scripts/bench_scaling.py``, which re-invokes this harness at
local[8] and local[32] and reports throughput at both.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def materialize(df) -> int:
    """Run the full plan through the no-op sink; return row count cheaply.

    noop sink executes every operator (including the final ones) with
    zero write cost; a separate count() would re-run the plan, so we
    return -1 and let correctness live in the oracle gate.
    """
    df.write.format("noop").mode("overwrite").save()
    return -1


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as entry_mod
    from inputosm_spark import get_spark

    spark = get_spark(cpus=cpus, app_name=f"inputosm_spark_bench[{cpus}]")
    qs = entry_mod.queries()

    # estimate corpus scale for the docs/sec headline metric
    from inputosm_spark.sources.registry import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()

    # warm the JVM + parquet footers once with the cheapest query
    materialize(qs["count_all"](spark, sf_dir))

    n_reps = int(os.environ.get("BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # every catalog query, in the catalog's own order
    for name, fn in qs.items():
        try:
            # one UNTIMED warm-up rep per query (Python-worker spawn,
            # JIT, shuffle-file page cache), then best-of-N timed reps:
            # this box's documented failure mode is a single contended
            # minute printing a 9x outlier (round-3 repetition_score
            # read 12.1 s vs a quiet-box 1.31 s) — best-of-2 with a
            # timed first rep could not shed it; warm-up + best-of-3
            # needs all three timed reps to hit contention to lie
            # (BASELINE.md §scaling)
            materialize(fn(spark, sf_dir))
            best = None
            for _ in range(n_reps):
                t0 = time.monotonic()
                materialize(fn(spark, sf_dir))
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
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
