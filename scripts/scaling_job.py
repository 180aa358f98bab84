#!/usr/bin/env python
"""The scaling-evidence job: one fixed spatial-join + tiling pipeline
over a deterministically synthesized interleaved corpus (no external
data; pure `spark.range` + column exprs, identical at any parallelism).

Pipeline (the north_star core path):
  synth docs -> deterministic point -> res-7/9 cells
    -> cell-bucketed PIP join against the polygon set (broadcast)
    -> salted per-cell rollup + raster tile counts
  all materialized through the noop sink.

Prints ONE JSON line: {"cpus": N, "n_docs": D, "wall_s": T,
"docs_per_sec": R}. Invoked at two parallelism levels by
scripts/bench_scaling.py; throughput ratio between them is the
N->4N scaling-efficiency evidence (BASELINE.json north_rule).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import materialize, timed  # noqa: E402


def main() -> int:
    n_docs = int(os.environ.get("SCALING_DOCS", "40000000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from inputosm_spark import get_spark
    from inputosm_spark.datagen import synth_polygons
    from inputosm_spark.functions import cells
    from inputosm_spark.operators import skew, spatial

    # big heap: scaling runs hold 32 concurrent task sets in one JVM;
    # an undersized heap turns the 32-thread run into a GC benchmark
    os.environ.setdefault("INPUTOSM_DRIVER_MEM", "48g")
    # the SAME job at every cluster size: input splits, shuffle
    # partitioning and salt fan-out are all fixed — only the executor
    # thread count differs between runs (north_rule N vs 4N evidence)
    spark = get_spark(cpus=cpus, shuffle_partitions=256,
                      app_name=f"scaling_job[{cpus}]")

    lat, lon = cells.point_exprs("id")
    docs = spark.range(n_docs, numPartitions=128).select(
        F.col("id").alias("doc_id"), lat, lon
    )
    polys = synth_polygons(spark)

    def pipeline() -> None:
        # force_broadcast: the polygon side is known-tiny; skipping the
        # measuring count() removes a serial driver barrier per rep
        joined = spatial.pip_join(docs, polys, res=6, force_broadcast=True)
        keyed = joined.withColumn(
            "cell7", cells.cell_id_expr("lat_e4", "lon_e4", 7)
        )
        rollup = skew.salted_count(
            keyed.select(F.concat_ws("|", "cell7", "poly_id").alias("key")),
            "key", n_salt=16,
        )
        tiles = spatial.tile_counts(docs.select("lat_e4", "lon_e4"),
                                    tile_res=4, pixel_res=9)
        # ONE action: the two independent DAG branches schedule
        # concurrently, halving job-submission barriers and letting
        # the scheduler fill cores across branches
        materialize(rollup.select(F.col("key"), F.col("cnt")).unionAll(
            tiles.select(
                F.concat_ws("|", "tile", "px", "py").alias("key"),
                F.col("cnt"),
            )
        ))

    # one UNTIMED full-pipeline pass first — C2 JIT of the generated
    # code and the Python worker pool spawn happen there, not inside the
    # measurement (at 32 threads concurrent JIT alone is tens of
    # seconds of one-time noise); then best-of-3: single-JVM runs on a
    # shared VM have multi-second GC/JIT/host noise, and min wall is the
    # standard throughput estimator
    walls = timed(pipeline, 3)
    wall = min(walls)

    print(json.dumps({
        "cpus": cpus,
        "n_docs": n_docs,
        "wall_s": round(wall, 3),
        "walls_all": [round(w, 3) for w in walls],
        "docs_per_sec": round(n_docs / wall),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
