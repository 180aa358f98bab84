"""The benchmark's workloads: each is a fixed list of steps that call the
engine's public functions, plus correctness checks against oracles
that share no code path with the engine.

A step builds its plan through the engine (``call:`` spans) and returns
the frame for the run to execute. Timed passes send every frame to the
no-op sink, which executes every operator without a collect. The check
pass, which is the run's warm-up, runs the same steps in the same
session and collects a digest of each frame instead (``digest``);
``checks`` compares those digests with the oracles.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd

from tracing import Tracer


def noop(df, tr: Tracer) -> None:
    with tr.span("action:noop"):
        df.write.format("noop").mode("overwrite").save()


def diff_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames hold the same multiset of rows, else why not."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return f"columns {sorted(got.columns)} != oracle {cols}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df[cols].copy()
        for c in cols:
            numeric = pd.api.types.is_numeric_dtype(df[c])
            df[c] = df[c].astype("int64") if numeric else df[c].astype(str)
        return df.sort_values(cols, kind="mergesort").reset_index(drop=True)

    g, w = canon(got), canon(want)
    bad = (g != w).any(axis=1)
    if bad.any():
        i = int(bad.idxmax())
        return (f"{int(bad.sum())} rows differ, first {g.iloc[i].to_dict()} "
                f"!= oracle {w.iloc[i].to_dict()}")
    return None


def diff_values(got: dict, want: dict) -> str | None:
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    return None if not bad else f"(got, expected): {bad}"


def _shuffled_below(ex: dict, op: str) -> int:
    """Rows written by the nearest Exchange under each ``op`` node."""
    children: dict[int, list[int]] = {}
    for child, parent in ex["edges"]:
        children.setdefault(parent, []).append(child)
    total = 0
    for nid, (name, _) in ex["nodes"].items():
        todo = list(children.get(nid, [])) if name == op else []
        while todo:
            cid = todo.pop()
            cname, cm = ex["nodes"][cid]
            if cname == "Exchange":
                total += int(cm.get("shuffle records written", 0))
            else:
                todo += children.get(cid, [])
    return total


def _duck():
    import duckdb

    from session import TMP, nproc

    con = duckdb.connect()
    con.execute(f"SET threads = {nproc()}")
    con.execute(f"SET temp_directory = '{os.path.join(TMP, 'duckdb')}'")
    return con


class Workload:
    """What every workload provides; the defaults suit one that reads no
    per-operator plan figures."""

    name = ""
    #: per pass: input records (docs_per_sec) and input bytes (the
    #: denominator of write_amp)
    n_docs = input_bytes = 0

    def register(self, spark) -> None:
        self.spark = spark

    def steps(self) -> list:
        raise NotImplementedError

    def after_pass(self) -> None:
        pass

    def digest(self, step: str, df):
        """What the check pass collects from a step's frame."""
        return df.toPandas()

    def checks(self, digests: dict) -> list:
        """(name, callable returning a failure reason or None) pairs."""
        raise NotImplementedError

    def plan_figures(self, steps: dict[str, dict]) -> dict[str, float | None]:
        """Operator-level figures of one traced pass."""
        return {}


class SpatialJoin(Workload):
    """Seeded clustered points -> cell assignment, PIP join, salted
    skew count, tiles, raster round trip and kNN (the paper's path)."""

    name = "spatial_join"
    K = 10
    TILE_RES, PIXEL_RES = 4, 9
    #: kNN answers checked by brute force: 10 clustered + 10 sparse queries
    KNN_SAMPLE = tuple(range(10)) + tuple(range(100, 110))

    def __init__(self, in_dir: str, manifest: dict):
        self.points_dir = os.path.join(in_dir, "points")
        self.manifest = manifest
        self.n_docs = manifest["n_points"]
        self.input_bytes = manifest["input_bytes"]
        self._pip = None

    def register(self, spark) -> None:
        from inputosm_spark import schemas

        self.spark = spark
        self.points = spark.read.parquet(self.points_dir)
        self.polygons = spark.createDataFrame(
            [(pid, [a, a, b, b, a], [c, d, d, c, c])
             for pid, a, b, c, d in self.manifest["boxes"]],
            schemas.POLYGONS,
        )
        self.queries = spark.createDataFrame(
            self.manifest["queries"], "qid long, lat_e4 long, lon_e4 long")

    def steps(self):
        return [
            ("cell_assign", self.cell_assign),
            ("pip_join", self.pip_join),
            ("salted_count", self.salted_count),
            ("tile_counts", self.tile_counts),
            ("raster_roundtrip", self.raster_roundtrip),
            ("knn_join", self.knn_join),
        ]

    def after_pass(self) -> None:
        if self._pip is not None:
            self._pip.unpersist(blocking=True)
            self._pip = None

    # --- steps ---------------------------------------------------------

    def _cell7(self, tr: Tracer):
        from inputosm_spark.functions import cells

        with tr.span("call:cells.cell_id_expr"):
            return cells.cell_id_expr("lat_e4", "lon_e4", 7).alias("cell7")

    def cell_assign(self, tr: Tracer):
        return self.points.select("id", self._cell7(tr))

    def pip_join(self, tr: Tracer):
        from inputosm_spark.operators import spatial

        with tr.span("call:spatial.pip_join"):
            pip = spatial.pip_join(self.points, self.polygons, res=6)
        # cached: the salted count consumes it, as a pipeline with more
        # than one consumer of the join would
        self._pip = pip.select("*", self._cell7(tr)).cache()
        return self._pip

    def salted_count(self, tr: Tracer):
        from pyspark.sql import functions as F

        from inputosm_spark.operators import skew

        with tr.span("call:skew.salted_count"):
            return skew.salted_count(
                self._pip.select(F.struct("cell7", "poly_id").alias("key")), "key")

    def tile_counts(self, tr: Tracer):
        from inputosm_spark.operators import spatial

        with tr.span("call:spatial.tile_counts"):
            return spatial.tile_counts(self.points, self.TILE_RES, self.PIXEL_RES)

    def raster_roundtrip(self, tr: Tracer):
        from inputosm_spark.operators import spatial

        with tr.span("call:spatial.rasterize"):
            raster = spatial.rasterize(self.points, self.TILE_RES, self.PIXEL_RES)
        with tr.span("call:spatial.vectorize"):
            return spatial.vectorize(raster, self.TILE_RES, self.PIXEL_RES)

    def knn_join(self, tr: Tracer):
        from inputosm_spark.operators import spatial

        with tr.span("call:spatial.knn_join"):
            return spatial.knn_join(self.queries, self.points, k=self.K)

    def digest(self, step: str, df):
        if step == "cell_assign":
            return df.groupBy("cell7").count().toPandas()
        if step == "pip_join":
            return df.groupBy("poly_id").count().toPandas()
        if step == "salted_count":
            return df.select("key.cell7", "key.poly_id", "cnt").toPandas()
        if step == "knn_join":
            return df.filter(df.qid.isin(list(self.KNN_SAMPLE))).toPandas()
        return df.toPandas()

    def plan_figures(self, steps: dict[str, dict]) -> dict[str, float | None]:
        """The share of boundary-cell candidates the exact refine keeps,
        the kNN ring rounds, and kNN candidate rows per result row."""
        keep = cand = None
        for ex in steps.get("pip_join", {}).get("executions", []):
            for child, parent in ex["edges"]:
                (cname, cm), (pname, pm) = ex["nodes"][child], ex["nodes"][parent]
                if cname == "ArrowEvalPython" and pname == "Filter" \
                        and cm.get("number of output rows"):
                    keep = pm.get("number of output rows", 0) / cm["number of output rows"]
        windows = [ex for ex in steps.get("knn_join", {}).get("executions", [])
                   if any(name == "Window" for name, _ in ex["nodes"].values())]
        for ex in windows:
            cand = (cand or 0) + _shuffled_below(ex, "Window")
        return {
            "spatial.pip_refine_keep": keep,
            "spatial.knn_rounds": len(windows) if "knn_join" in steps else None,
            "spatial.knn_cand_per_result":
                cand / (self.K * len(self.manifest["queries"])) if cand else None,
        }

    # --- checks --------------------------------------------------------

    def checks(self, digests: dict):
        from inputosm_spark.functions import cells

        con = _duck()
        con.execute(f"CREATE VIEW points AS SELECT * FROM "
                    f"read_parquet('{self.points_dir}/*.parquet')")
        con.execute("CREATE TABLE boxes (poly_id VARCHAR, lat0 BIGINT, lat1 BIGINT, "
                    "lon0 BIGINT, lon1 BIGINT)")
        con.executemany("INSERT INTO boxes VALUES (?, ?, ?, ?, ?)", self.manifest["boxes"])
        con.execute("CREATE TABLE queries (qid BIGINT, lat_e4 BIGINT, lon_e4 BIGINT)")
        con.executemany("INSERT INTO queries VALUES (?, ?, ?)", self.manifest["queries"])
        # closed-open boxes: the ray-cast boundary rule reproduces them exactly
        in_box = ("JOIN boxes b ON p.lat_e4 >= b.lat0 AND p.lat_e4 < b.lat1 "
                  "AND p.lon_e4 >= b.lon0 AND p.lon_e4 < b.lon1")
        cell7 = cells.cell_id_sql("p.lat_e4", "p.lon_e4", 7)
        cell9 = cells.cell_id_sql("p.lat_e4", "p.lon_e4", self.PIXEL_RES)
        px, py = cells.cell_xy_sql("p.lat_e4", "p.lon_e4", self.PIXEL_RES)
        d = self.PIXEL_RES - self.TILE_RES
        tile = (f"{self.TILE_RES} * {1 << 58} + ({py} // {1 << d}) * {1 << 29} "
                f"+ ({px} // {1 << d})")
        sample = ", ".join(map(str, self.KNN_SAMPLE))
        dist2 = ("(q.lat_e4 - p.lat_e4) * (q.lat_e4 - p.lat_e4) "
                 "+ (q.lon_e4 - p.lon_e4) * (q.lon_e4 - p.lon_e4)")
        oracles = {
            "cell_assign": f"SELECT {cell7} AS cell7, count(*) AS count FROM points p GROUP BY 1",
            "pip_join": f"SELECT b.poly_id, count(*) AS count FROM points p {in_box} GROUP BY 1",
            "salted_count": f"SELECT {cell7} AS cell7, b.poly_id, count(*) AS cnt "
                            f"FROM points p {in_box} GROUP BY 1, 2",
            "tile_counts": f"SELECT {tile} AS tile, CAST({px} % {1 << d} AS INT) AS px, "
                           f"CAST({py} % {1 << d} AS INT) AS py, count(*) AS cnt "
                           f"FROM points p GROUP BY 1, 2, 3",
            "raster_roundtrip": f"SELECT {cell9} AS cell, count(*) AS cnt "
                                f"FROM points p GROUP BY 1",
            "knn_join": f"""
                SELECT q.qid, p.id AS neighbor_id, {dist2} AS dist2,
                       row_number() OVER (PARTITION BY q.qid ORDER BY {dist2}, p.id) AS rank
                FROM queries q, points p WHERE q.qid IN ({sample})
                QUALIFY rank <= {self.K}""",
        }

        def check(step: str):
            if step not in digests:
                return "the check pass produced no output"
            return diff_frames(digests[step], con.execute(oracles[step]).df())

        return [(step, functools.partial(check, step)) for step in oracles]


class QueryMix(Workload):
    """Catalog queries (``__spark_entry__.queries()``) over a seeded
    TPC-H-like table set, one query per operation, in an order the seed
    permutes anew each pass; each is checked against its ``oracle_sql()``
    twin in DuckDB."""

    name = "query_mix"
    #: query family -> catalog entries: one per family, because a pass over
    #: more costs ~1-3 s per query at any table size on 4 cores, and a run
    #: must stay near a minute. pagerank carries the graph cache lifecycle
    #: and cosine_topk (mapInPandas) the Python-worker cost of the
    #: similarity family.
    FAMILIES = {
        "spatial": ("tile_counts",),
        "text": ("minhash_signatures",),
        "similarity": ("cosine_topk",),
        "graph": ("pagerank",),
        "relational": ("tpch_q1_pricing",),
        "temporal": ("sessionize",),
        "multimodal": ("training_pipeline",),
    }
    QUERIES = tuple(q for qs in FAMILIES.values() for q in qs)

    def __init__(self, in_dir: str, manifest: dict):
        self.sf_dir = in_dir
        self.seed = manifest["seed"]
        self.n_docs = sum(manifest["rows"].values())
        self.input_bytes = manifest["input_bytes"]
        self._pass = 0

    def register(self, spark) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = [q for q in self.QUERIES if q not in self.queries or q not in self.oracles]
        if missing:
            raise KeyError(f"catalog entries or oracles missing: {missing}")

    def steps(self):
        """One step per query, named ``query.<name>``."""
        order = np.random.default_rng([self.seed, self._pass]).permutation(len(self.QUERIES))
        return [(f"query.{self.QUERIES[i]}", functools.partial(self.query, self.QUERIES[i]))
                for i in order]

    def after_pass(self) -> None:
        self._pass += 1

    def query(self, name: str, tr: Tracer):
        with tr.span(f"call:queries.{name}"):
            return self.queries[name](self.spark, self.sf_dir)

    def digest(self, step: str, df):
        from inputosm_spark.oracle_compare import frame_hash

        return frame_hash(df.toPandas())

    def checks(self, digests: dict):
        from inputosm_spark.oracle_compare import duck_con, frame_hash

        con = duck_con(self.sf_dir)

        def check(name: str):
            if f"query.{name}" not in digests:
                return "the check pass produced no output"
            got = digests[f"query.{name}"]
            want = frame_hash(con.execute(self.oracles[name]).df())
            if got == want:
                return None
            return (f"(rows, columns, hash) {got[0]}, {got[1]}, {got[2][:8]} "
                    f"!= oracle {want[0]}, {want[1]}, {want[2][:8]}")

        return [(name, functools.partial(check, name)) for name in self.QUERIES]


WORKLOADS = {w.name: w for w in (SpatialJoin, QueryMix)}
