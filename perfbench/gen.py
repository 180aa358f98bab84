"""Seeded inputs for the perfbench workloads.

The same seed gives byte-identical inputs; another seed gives other
points, ids, coordinates and table contents. Inputs are cached per
(workload, seed, size) under ``<checkout>/.perfbench/inputs``
(git-ignored) and are never written into the repository's tracked tree.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench", "inputs")
#: cached input sets kept per workload (older ones are evicted): enough
#: for a ten-seed set of runs to find its inputs again when repeated
KEEP_CACHED = 24

#: on 4 cores a steady pass took 7.5, 5.9-6.6 and 10.4-10.9 s at 100k,
#: 300k and 1M points: below 1M it is mostly fixed per-step cost, and
#: 300k keeps one run near a minute
SPATIAL_POINTS = 300_000
SPATIAL_FILES = 4
N_CLUSTERS = 4
CLUSTER_SHARE = 0.2
CLUSTER_HALF_E4 = 5_000        # clusters are 1 deg x 1 deg squares
CLUSTER_BOX_HALF_E4 = 3_000    # their polygon cuts through the hot cells
N_QUERIES = 200

#: query_mix table sizes: the row counts of the catalog's sf0.01 test set
#: (at sf0.1 sizes a pass of eleven catalog queries took 15 s on 4 cores)
QUERY_ROWS = {"documents": 500, "embeddings": 500, "events": 10_000,
              "lineitem": 60_000, "orders": 15_000, "customer": 1_500, "part": 2_000}
N_SUPPLIERS = 100
N_USERS = 150
EMBED_DIM = 64
VOCAB = ("a the join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window spark part group big sort "
         "query fast").split()
LANGS, LANG_P = ["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14]
DUP_SHARE = 0.05               # documents that repeat an earlier text plus " dup"


def catalog_boxes() -> list[tuple[str, int, int, int, int]]:
    """The engine catalog's 12 boxes plus ``metro`` (the formula of
    queries_catalog._BOX_SQL) as (poly_id, lat0, lat1, lon0, lon1)."""
    boxes = []
    for i in range(12):
        lat0, lon0 = -800_000 + i * 130_000, -1_700_000 + i * 260_000
        boxes.append((f"box{i}", lat0, lat0 + 60_000 + (i % 3) * 40_000,
                      lon0, lon0 + 90_000 + (i % 4) * 50_000))
    boxes.append(("metro", -450_000, 450_000, -900_000, 900_000))
    return boxes


def _publish(tmp: str, final: str, workload: str) -> None:
    """Move a finished input set into place and evict old sets."""
    os.replace(tmp, final)
    sets = sorted(
        (os.path.getmtime(os.path.join(CACHE, d)), d)
        for d in os.listdir(CACHE)
        if d.startswith(workload + "-") and not d.endswith(".tmp")
    )
    for _, d in sets[:-KEEP_CACHED]:
        shutil.rmtree(os.path.join(CACHE, d), ignore_errors=True)


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def _cached(workload: str, seed: int, size: int) -> tuple[str, dict | None]:
    d = os.path.join(CACHE, f"{workload}-s{seed}-n{size}")
    m = os.path.join(d, "manifest.json")
    if os.path.exists(m):
        with open(m) as f:
            return d, json.load(f)
    return d, None


def spatial_points(seed: int, n: int) -> tuple[dict[str, np.ndarray], list, list]:
    """(columns, polygon boxes, kNN queries) for one seed.

    About CLUSTER_SHARE of the points sit in N_CLUSTERS dense 1x1 deg
    squares (hot res-6/7 cells); the rest are spread over the globe.
    Each cluster gets a box polygon whose edges cut through it, so the
    exact refine runs on hot boundary cells. Half the kNN queries fall
    inside clusters, half in sparse areas.
    """
    rng = np.random.default_rng(seed)
    centers = np.stack([rng.integers(-600_000, 600_000, N_CLUSTERS),
                        rng.integers(-1_700_000, 1_700_000, N_CLUSTERS)], 1)
    per_cluster = int(n * CLUSTER_SHARE) // N_CLUSTERS
    n_sparse = n - per_cluster * N_CLUSTERS
    lat = [rng.integers(-900_000, 900_000, n_sparse)]
    lon = [rng.integers(-1_800_000, 1_800_000, n_sparse)]
    for clat, clon in centers:
        lat.append(rng.integers(clat - CLUSTER_HALF_E4, clat + CLUSTER_HALF_E4, per_cluster))
        lon.append(rng.integers(clon - CLUSTER_HALF_E4, clon + CLUSTER_HALF_E4, per_cluster))
    order = rng.permutation(n)
    cols = {
        "id": int(rng.integers(1, 1 << 40)) + np.arange(n, dtype=np.int64),
        "lat_e4": np.concatenate(lat).astype(np.int64)[order],
        "lon_e4": np.concatenate(lon).astype(np.int64)[order],
    }
    boxes = catalog_boxes() + [
        (f"cluster{c}", int(clat) - CLUSTER_BOX_HALF_E4, int(clat) + CLUSTER_BOX_HALF_E4,
         int(clon) - CLUSTER_BOX_HALF_E4, int(clon) + CLUSTER_BOX_HALF_E4)
        for c, (clat, clon) in enumerate(centers)
    ]
    half = N_QUERIES // 2
    which = rng.integers(0, N_CLUSTERS, half)
    q_lat = np.concatenate([
        centers[which, 0] + rng.integers(-CLUSTER_HALF_E4, CLUSTER_HALF_E4, half),
        rng.integers(-800_000, 800_000, N_QUERIES - half)])
    q_lon = np.concatenate([
        centers[which, 1] + rng.integers(-CLUSTER_HALF_E4, CLUSTER_HALF_E4, half),
        rng.integers(-1_800_000, 1_800_000, N_QUERIES - half)])
    queries = [[q, int(a), int(b)] for q, (a, b) in enumerate(zip(q_lat, q_lon))]
    return cols, boxes, queries


def spatial_inputs(seed: int, n: int = SPATIAL_POINTS) -> tuple[str, dict]:
    """Points as SPATIAL_FILES parquet files plus a manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d, manifest = _cached("spatial_join", seed, n)
    if manifest is not None:
        return d, manifest
    cols, boxes, queries = spatial_points(seed, n)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "points"))
    bounds = np.linspace(0, n, SPATIAL_FILES + 1).astype(int)
    for i in range(SPATIAL_FILES):
        part = {k: v[bounds[i]:bounds[i + 1]] for k, v in cols.items()}
        pq.write_table(pa.table(part), os.path.join(tmp, "points", f"part-{i:02d}.parquet"))
    manifest = {"workload": "spatial_join", "seed": seed, "n_points": n,
                "input_bytes": _dir_bytes(os.path.join(tmp, "points")),
                "boxes": boxes, "queries": queries}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    _publish(tmp, d, "spatial_join")
    return d, manifest


def _days(rng, first: str, last: str, n: int) -> np.ndarray:
    """n midnight timestamps drawn uniformly from [first, last]."""
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(np.int64))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100


def query_tables(seed: int, rows: dict[str, int]) -> dict:
    """The tables the query_mix catalog entries read, in the schema of
    the catalog's TPC-H-like test set, as pyarrow tables."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_doc, n_emb, n_ev = rows["documents"], rows["embeddings"], rows["events"]
    n_li, n_ord, n_cust, n_part = (rows[t] for t in ("lineitem", "orders", "customer", "part"))

    lengths = rng.integers(10, 100, n_doc)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts = [" ".join(VOCAB[w] for w in ws)
             for ws in np.split(words, np.cumsum(lengths)[:-1])]
    for i in np.flatnonzero(rng.random(n_doc) < DUP_SHARE):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    doc_id = np.arange(n_doc, dtype=np.int64)
    documents = pa.table({
        "doc_id": doc_id, "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })

    month_us = 30 * 86_400 * 10**6
    gaps = rng.exponential(month_us / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(np.int64)
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, N_USERS, n_ev),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1_000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9_999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, n_cust)],
    })
    colors = "red blue green small large black white steel".split()
    things = "ring widget bolt plate gear nut spring valve".split()
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{colors[a]} {things[b]}"
                   for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"])[
            rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900 + (np.arange(n_part) % 1000) / 10,
    })
    return {"documents": documents, "embeddings": embeddings, "events": events,
            "lineitem": lineitem, "orders": orders, "customer": customer, "part": part}


def query_inputs(seed: int, rows: dict[str, int] = QUERY_ROWS) -> tuple[str, dict]:
    """One ``<table>.parquet`` per table, the layout the catalog's
    queries and their DuckDB oracles read, plus a manifest."""
    import pyarrow.parquet as pq

    d, manifest = _cached("query_mix", seed, rows["lineitem"])
    if manifest is not None:
        return d, manifest
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in query_tables(seed, rows).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    manifest = {"workload": "query_mix", "seed": seed, "rows": rows,
                "input_bytes": _dir_bytes(tmp)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    _publish(tmp, d, "query_mix")
    return d, manifest
