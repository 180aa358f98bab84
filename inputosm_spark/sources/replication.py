"""Replication catch-up: PBF header -> snapshot properties -> OSC.

A planet extract's OSMHeader blob carries the osmosis replication
coordinates (timestamp / sequence number / base URL — reference
read_header_block, /root/reference/src/inputosmpbf.cpp:823-838): they
say WHERE in the minutely/hourly diff stream the file was cut, i.e.
which .osc change set to apply first to roll the table forward.

This module wires that loop onto the engine's Iceberg-semantics
snapshot store (plans/snapshots.SnapshotStore):

* `ingest_pbf` decodes the file once (sources/pbf.read_pbf_entities)
  and commits it with the header surfaced as TABLE PROPERTIES
  (`osm.replication.*`, `osm.writing_program`, ...), so any later
  consumer — including a different process — can resume catch-up
  without re-reading the PBF.
* `catch_up_osc` reads the table's current replication sequence from
  those properties, applies every pending change set IN SEQUENCE ORDER
  via the latest-wins merge (osmxml.apply_changes), and commits ONE new
  snapshot with the advanced sequence — idempotent: already-applied
  sequences are skipped, and a crash before the commit leaves the
  table at the old snapshot (snapshot publish is atomic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from inputosm_spark.plans.snapshots import SnapshotStore
from inputosm_spark.sources import osmxml, pbf


def header_properties(header: dict) -> dict:
    """PBF header dict -> Iceberg-style table property strings."""
    props: dict[str, str] = {}
    if header.get("replication_sequence") is not None:
        props["osm.replication.sequence"] = str(header["replication_sequence"])
    if header.get("replication_timestamp") is not None:
        props["osm.replication.timestamp"] = str(
            header["replication_timestamp"]
        )
    if header.get("replication_base_url"):
        props["osm.replication.base_url"] = header["replication_base_url"]
    if header.get("writing_program"):
        props["osm.writing_program"] = header["writing_program"]
    if header.get("source"):
        props["osm.source"] = header["source"]
    if header.get("bbox"):
        bb = header["bbox"]
        props["osm.bbox"] = (
            f"{bb.get('left')},{bb.get('bottom')},"
            f"{bb.get('right')},{bb.get('top')}"
        )
    return props


def ingest_pbf(spark: SparkSession, path: str, store: SnapshotStore) -> int:
    """Decode a .osm.pbf and commit all entities as one snapshot with
    the header's replication coordinates as table properties. Returns
    the snapshot id."""
    header = pbf.read_header(path)
    pbf.validate_header(header)
    ent = pbf.read_pbf_entities(spark, path)
    return store.overwrite(ent, properties=header_properties(header))


def current_sequence(store: SnapshotStore) -> int | None:
    seq = store.properties().get("osm.replication.sequence")
    return int(seq) if seq is not None else None


def catch_up_osc(
    spark: SparkSession,
    store: SnapshotStore,
    change_sets: dict[int, str],
) -> int | None:
    """Apply every pending OSC change set (sequence -> .osc path) with
    sequence > the table's current replication sequence, in order, and
    commit one snapshot with the advanced sequence. Change sets at or
    below the current sequence are skipped (idempotent re-run). Returns
    the new snapshot id, or None if nothing was pending."""
    cur = current_sequence(store)
    pending = sorted(
        s for s in change_sets if cur is None or s > cur
    )
    if not pending:
        return None
    table = store.read()
    for seq in pending:
        table = _apply_osc(spark, table, change_sets[seq])
    return store.overwrite(
        table, properties={"osm.replication.sequence": str(pending[-1])}
    )


def _apply_osc(spark: SparkSession, table: DataFrame, osc_path: str) -> DataFrame:
    """One .osc against the kind-discriminated entity table: the
    node/way/relation CDC frames, unioned onto the entity superset
    schema, replayed by one merge keyed (kind, id) — OSM ids are unique
    per kind only. Ops on one entity share a kind, so each frame's
    file order is the replay order (osmxml.apply_changes). A kind
    without node_refs or members gets them as typed empty arrays, the
    PBF reader's and the OSC stream's encoding of "none"."""
    from pyspark.sql import functions as F

    nested = {
        "node_refs": "array<long>",
        "members": "array<struct<type:int,ref:long,role:string>>",
    }
    frames = [
        ch.select(
            F.lit(kind).alias("kind"), "*",
            *[F.expr(f"CAST(array() AS {t})").alias(c)
              for c, t in nested.items() if c not in ch.columns],
        )
        for kind, ch in zip(
            ("node", "way", "relation"), osmxml.read_osc(spark, osc_path)
        )
    ]
    changes = frames[0]
    for ch in frames[1:]:
        changes = changes.unionByName(ch, allowMissingColumns=True)
    return osmxml.apply_changes(table, changes, key=["kind", "id"])
