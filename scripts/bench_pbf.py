#!/usr/bin/env python
"""PBF ingest throughput: blob-parallel decode at local[$SPARK_GRAFT_CPUS].

The reference's one published benchmark is planet-PBF parse throughput
(311M entities/s on 72 Xeon threads, C++ — /root/reference/README.md:
396-416). This measures OUR ingest path on a synthetic dense-node file
(same blob granularity: ~8k entities/blob) so the number is honest and
reproducible: one Spark task per blob, numpy varint kernels, Arrow
batches out. Ingest here is a ONE-TIME conversion step (queries run on
parquet/Iceberg after); the scale property that matters is that blobs
decode independently, so throughput multiplies with executors.

Prints one JSON line: {"entities": N, "wall_s": T, "entities_per_sec": R}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
                + "/tests")

from bench import timed  # noqa: E402


def synth_pbf(path: str, n_blobs: int, nodes_per_blob: int) -> int:
    import pbf_writer as W

    blocks = []
    nid = 0
    for b in range(n_blobs):
        ns = []
        for i in range(nodes_per_blob):
            nid += 1
            ns.append(dict(
                id=nid,
                raw_lat=(nid * 7919) % 1_800_000_000 - 900_000_000,
                raw_lon=(nid * 104729) % 3_600_000_000 - 1_800_000_000,
                tags={"k": "v"} if i % 64 == 0 else {},
                version=1,
                ts_s=1_600_000_000 + (nid % 86400),
                changeset=nid % 1000,
            ))
        blocks.append(W.primitive_block(lambda st, ns=ns: [W.dense_group(st, ns)]))
    W.write_pbf(path, blocks)
    return n_blobs * nodes_per_blob


def synth_way_pbf(path: str, n_blobs: int, ways_per_blob: int,
                  refs_per_way: int = 10) -> int:
    """Way-heavy file: exercises the columnar way decode (ListArray
    assembly over the packed-delta refs), the path the planet file's
    ~1B ways take."""
    import pbf_writer as W

    blocks = []
    wid = 0
    for b in range(n_blobs):
        ws = []
        for i in range(ways_per_blob):
            wid += 1
            ws.append(dict(
                id=wid,
                node_refs=[wid * 16 + j for j in range(refs_per_way)],
                tags={"highway": "residential"} if i % 8 == 0 else {},
                version=1,
                ts_s=1_600_000_000 + (wid % 86400),
                changeset=wid % 1000,
            ))
        blocks.append(W.primitive_block(
            lambda st, ws=ws: [W.way_group(st, w) for w in ws]
        ))
    W.write_pbf(path, blocks)
    return n_blobs * ways_per_blob


def main() -> int:
    n_blobs = int(os.environ.get("PBF_BLOBS", "250"))
    per_blob = int(os.environ.get("PBF_NODES_PER_BLOB", "8000"))
    way_blobs = int(os.environ.get("PBF_WAY_BLOBS", "125"))
    ways_per_blob = int(os.environ.get("PBF_WAYS_PER_BLOB", "8000"))
    path = os.environ.get("PBF_PATH", "/tmp/bench_ingest.osm.pbf")
    wpath = os.environ.get("PBF_WAY_PATH", "/tmp/bench_ingest_ways.osm.pbf")
    if not os.path.exists(path) or os.environ.get("PBF_REGEN") == "1":
        t0 = time.monotonic()
        synth_pbf(path, n_blobs, per_blob)
        sys.stderr.write(f"synth nodes: {time.monotonic() - t0:.1f}s\n")
    if not os.path.exists(wpath) or os.environ.get("PBF_REGEN") == "1":
        t0 = time.monotonic()
        synth_way_pbf(wpath, way_blobs, ways_per_blob)
        sys.stderr.write(f"synth ways: {time.monotonic() - t0:.1f}s\n")

    from inputosm_spark import get_spark
    from inputosm_spark.sources import pbf

    spark = get_spark(app_name="bench_pbf")
    n = n_blobs * per_blob
    nw = way_blobs * ways_per_blob

    def run(path: str, expect: int) -> None:
        got = pbf.read_pbf_entities(spark, path).count()
        assert got == expect, (got, expect)

    best = min(timed(lambda: run(path, n), 3))
    wbest = min(timed(lambda: run(wpath, nw), 3))
    print(json.dumps({
        "entities": n,
        "n_blobs": n_blobs,
        "wall_s": round(best, 3),
        "entities_per_sec": round(n / best),
        "way_entities": nw,
        "way_wall_s": round(wbest, 3),
        "ways_per_sec": round(nw / wbest),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
