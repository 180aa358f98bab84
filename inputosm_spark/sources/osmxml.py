"""OSM XML / OSC change-file ingest (S13,
/root/reference/src/inputosmxml.cpp:260-310).

A from-scratch SAX reader (expat via xml.sax, stdlib) that turns
`.osm` files into the three entity DataFrames and `.osc` files into
CDC rows with an `op` column — the Spark-side equivalent of the
reference's element handlers (node/way/relation/tag/nd/member at
inputosmxml.cpp:58-258) and its `<create>/<modify>/<delete>` mode
toggling (:243-257).

Design note (scale): XML is the reference's *slow single-threaded*
path too — it exists for fixtures and change files, not bulk data. The
bulk path is columnar (Parquet/Iceberg). `read_osm`/`read_osc` parse
one file on the driver; `read_osc_stream` parses a landing zone of
change files one task per file (the same one-file-one-work-item model
as `pbf.read_pbf_stream`).

`apply_changes` is the engine's one latest-wins replay of change rows
onto an entity table: a batch `.osc` (`read_osc`), the replication
catch-up (`replication.catch_up_osc`) and the OSC stream
(`streaming.events.stream_osc_replication`) all merge through it, each
passing its own key and recency order.

Coordinates are stored in the reference's fixed-point encoding
`raw = round(deg * 1e7)` (inputosmxml.cpp:69-77).
"""

from __future__ import annotations

import datetime as dt
import xml.sax
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from inputosm_spark import schemas
from inputosm_spark.sources.registry import read_landing_zone

_MEMBER_TYPE = {"node": 0, "way": 1, "relation": 2}


def _ts(s: str | None) -> dt.datetime | None:
    """ISO-8601 'YYYY-MM-DDTHH:MM:SSZ' -> naive UTC datetime
    (str_to_timestamp, /root/reference/src/timeutil.cpp:31-39)."""
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")


def _fixed(deg: str) -> int:
    """degrees string -> int64 nanodegree/1e7 fixed point, matching the
    reference's `* 10000000.` truncation-free rounding."""
    return round(float(deg) * 1e7)


@dataclass
class _Parsed:
    nodes: list = field(default_factory=list)
    ways: list = field(default_factory=list)
    relations: list = field(default_factory=list)


class _OsmHandler(xml.sax.ContentHandler):
    """SAX handler mirroring the reference's element state machine:
    start-tags fill the current entity + side lists, end-tags emit."""

    def __init__(self, with_op: bool):
        super().__init__()
        self.out = _Parsed()
        self.with_op = with_op
        self.op = "bulk"  # mode_t: reset like inputosm.cpp:44
        self._cur = None
        self._kind = None
        self._tags: dict[str, str] = {}
        self._refs: list[int] = []
        self._members: list[tuple[int, int, str]] = []

    # --- mode sections (<create>/<modify>/<delete>) ---
    def startElement(self, name, attrs):
        if name in ("create", "modify", "delete"):
            self.op = name
            return
        if name in ("node", "way", "relation"):
            self._kind = name
            self._tags, self._refs, self._members = {}, [], []
            self._cur = attrs
            return
        if name == "tag" and self._kind:
            self._tags[attrs["k"]] = attrs["v"]
        elif name == "nd" and self._kind == "way":
            self._refs.append(int(attrs["ref"]))
        elif name == "member" and self._kind == "relation":
            self._members.append(
                (_MEMBER_TYPE[attrs["type"]], int(attrs["ref"]),
                 attrs.get("role", ""))
            )

    def endElement(self, name):
        if name in ("create", "modify", "delete"):
            self.op = "bulk"  # reset, inputosmxml.cpp:255-257
            return
        if name != self._kind:
            return
        a = self._cur
        common = (
            self._tags,
            int(a["version"]) if a.get("version") else None,
            _ts(a.get("timestamp")),
            int(a["changeset"]) if a.get("changeset") else None,
        )
        op = (self.op,) if self.with_op else ()
        if name == "node":
            self.out.nodes.append(
                (int(a["id"]), _fixed(a["lat"]), _fixed(a["lon"]), *common, *op)
            )
        elif name == "way":
            self.out.ways.append((int(a["id"]), self._refs, *common, *op))
        elif name == "relation":
            self.out.relations.append((int(a["id"]), self._members, *common, *op))
        self._kind = None


def _parse(path: str, with_op: bool) -> _Parsed:
    handler = _OsmHandler(with_op)
    with open(path, "rb") as f:
        xml.sax.parse(f, handler)
    return handler.out


def _with_op(schema: StructType) -> StructType:
    return StructType(schema.fields + [schemas.OP])


def read_osm(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """.osm -> (nodes, ways, relations) DataFrames (bulk mode)."""
    p = _parse(path, with_op=False)
    return (
        spark.createDataFrame(p.nodes, schemas.NODES),
        spark.createDataFrame(p.ways, schemas.WAYS),
        spark.createDataFrame(p.relations, schemas.RELATIONS),
    )


def read_osc(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """.osc -> CDC DataFrames with op in {create,modify,delete}."""
    p = _parse(path, with_op=True)
    return (
        spark.createDataFrame(p.nodes, _with_op(schemas.NODES)),
        spark.createDataFrame(p.ways, _with_op(schemas.WAYS)),
        spark.createDataFrame(p.relations, _with_op(schemas.RELATIONS)),
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key: str | list[str] = "id",
    order: list[Column] | None = None,
) -> DataFrame:
    """Apply change rows (with an `op` column) to a base entity table —
    latest-wins MERGE semantics (the Iceberg `MERGE INTO` fallback).

    The reference replays ops sequentially (inputosmxml.cpp:243-257), so
    when a change set carries several ops for the same `key` (a column
    name or a list of them) only the most recent one survives, and only
    that row decides delete-vs-upsert. `order` lists the sort Columns
    that put the most recent op first; by default it is the position in
    the change frame (`monotonically_increasing_id` preserves the parse
    order of one change file). Recency alone decides — NOT version: a
    later op carrying a lower/equal version (e.g. a revert) still wins,
    matching the reference's sequential replay. A create followed by a
    delete removes the row; a delete followed by a create keeps the new
    row. Upserts are projected onto the base's columns, so extra change
    columns (`op`, stream bookkeeping) never reach the result.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)
    if order is None:
        changes = changes.withColumn("__pos", F.monotonically_increasing_id())
        order = [F.desc("__pos")]
    w = Window.partitionBy(*keys).orderBy(*order)
    latest = changes.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    upserts = latest.filter(F.col("op") != "delete").select(*base.columns)
    # keys whose latest op is delete are removed from base and absent
    # from `upserts` — no separate delete pass needed
    kept = base.join(latest.select(*keys), keys, "left_anti")
    return kept.unionByName(upserts)


OSC_STREAM_DDL = (
    "kind string, id long, raw_lat long, raw_lon long, "
    "node_refs array<long>, "
    "members array<struct<type:int,ref:long,role:string>>, "
    "tags map<string,string>, version int, ts timestamp, changeset long, "
    "op string, seq long, source_file string"
)


def read_osc_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING OSC landing zone: every ``*.osc`` change file landing
    in the directory parses into CDC rows (kind-discriminated superset
    schema + op + source_file) as it arrives — the streaming twin of
    `read_osc`, mirroring `pbf.read_pbf_stream`. One task SAX-parses
    one file, matching the reference's single-threaded-per-file XML
    path (/root/reference/src/inputosmxml.cpp:260-310). ``seq``
    preserves each KIND's within-file document order (ops on the same
    entity are always the same kind, so per-kind order is exactly what
    sequential-replay "last op in file wins" resolution needs
    downstream in `apply_changes`).
    """
    raw = read_landing_zone(spark, landing_dir, "*.osc", max_files_per_trigger)

    def parse(it):
        import io as _io

        import pandas as pd

        for pdf in it:
            for path, content in zip(pdf["path"], pdf["content"]):
                handler = _OsmHandler(with_op=True)
                xml.sax.parse(_io.BytesIO(bytes(content)), handler)
                rows = []
                for n in handler.out.nodes:
                    nid, lat, lon, tags, ver, ts, cs, op = n
                    rows.append(("node", nid, lat, lon, [], [], tags,
                                 ver, ts, cs, op))
                for w in handler.out.ways:
                    wid, refs, tags, ver, ts, cs, op = w
                    rows.append(("way", wid, None, None, list(refs), [],
                                 tags, ver, ts, cs, op))
                for r in handler.out.relations:
                    rid, members, tags, ver, ts, cs, op = r
                    rows.append((
                        "relation", rid, None, None, [],
                        [dict(zip(("type", "ref", "role"), m))
                         for m in members],
                        tags, ver, ts, cs, op,
                    ))
                if not rows:
                    continue
                out = pd.DataFrame(
                    rows,
                    columns=["kind", "id", "raw_lat", "raw_lon",
                             "node_refs", "members", "tags", "version",
                             "ts", "changeset", "op"],
                )
                out["seq"] = range(len(out))
                out["source_file"] = path
                yield out

    return raw.mapInPandas(parse, OSC_STREAM_DDL)
