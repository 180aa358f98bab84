#!/usr/bin/env python
"""DATA-size scaling evidence (complement to bench_scaling.py's
parallelism axis): the same document-only queries at sf0.1 (5k docs)
and at a synthesized 10x corpus (50k docs — ten deterministic doc_id-
shifted copies of the sf0.1 documents table, no external data), in one
local[$SPARK_GRAFT_CPUS] session. A scan-shaped or single-shuffle
operator should grow ~linearly in wall time (ratio ~10 of the per-level
BEST walls, minus the fixed session/stage overhead that dominates
sub-second queries); a super-linear ratio exposes an accidental O(n^2) — the
pair-generating operators (LSH, simhash bands) are exactly the ones
whose candidate growth the width pytests bound.

Usage: python scripts/bench_datascale.py  ->  BENCH_DATASCALE.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize, timed  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BIG_DIR_TMPL = "/tmp/inputosm_datascale_x{n}"
LEVELS = [int(x) for x in os.environ.get(
    "DATASCALE_LEVELS", "10,100").split(",")]

# document-only queries spanning the operator families: map-only scan
# (gopher_filter), one-shuffle agg (minhash_signatures, simhash),
# Arrow-kernel (winnow_sketch), window carry (token_shards), explode
# rollup (geohash_pyramid)
QUERIES = [
    "gopher_filter",
    "minhash_signatures",
    "simhash",
    "winnow_sketch",
    "token_shards",
    "geohash_pyramid",
]


def main() -> int:
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from inputosm_spark import get_spark

    spark = get_spark(app_name="datascale")
    qs = entry_mod.queries()

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    n_small = docs.count()
    level_dirs: dict[int, str] = {1: SF_DIR}
    for lvl in LEVELS:
        d = BIG_DIR_TMPL.format(n=lvl)
        path = os.path.join(d, "documents.parquet")
        if not os.path.exists(path):
            parts = [
                docs.select(
                    (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                    "text", "lang", "source", "n_chars",
                )
                for i in range(lvl)
            ]
            out = parts[0]
            for pp in parts[1:]:
                out = out.unionAll(pp)
            out.repartition(max(32, lvl)).write.mode("overwrite").parquet(path)
        level_dirs[lvl] = d

    results: dict[str, dict] = {}
    for name in QUERIES:
        fn = qs[name]
        walls = {
            lvl: round(min(timed(lambda: materialize(fn(spark, d)), 3)), 3)
            for lvl, d in level_dirs.items()
        }
        results[name] = {
            **{f"wall_x{lvl}_s": w for lvl, w in walls.items()},
            **{
                f"ratio_x{lvl}": round(walls[lvl] / walls[1], 2)
                for lvl in LEVELS
            },
        }

    payload = {
        "n_docs_small": n_small,
        "levels": [1] + LEVELS,
        "queries": results,
        "note": (
            "best-of-3 after untimed warm-up, one local[$SPARK_GRAFT_CPUS] "
            "session, pinned; ratio ~= size_factor means linear data scaling "
            "(fixed per-stage overhead makes sub-second queries read "
            "below the factor); each xN corpus is N deterministic "
            "doc_id-shifted copies of sf0.1 documents. Only per-doc "
            "operators are included — pair-GENERATING operators over a "
            "copied corpus would measure the duplicate blow-up, not "
            "data scaling (their candidate growth is bounded by the "
            "width pytests instead)"
        ),
    }
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_DATASCALE.json"), "w") as f:
        json.dump(payload, f, indent=2)
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
