"""Replication catch-up loop: PBF header coordinates -> snapshot table
properties -> OSC apply -> advanced sequence (S12 consumer story;
reference read_header_block, inputosmpbf.cpp:762-841, plus the OSC
semantics of read_osc_test.cpp).
"""

from __future__ import annotations

import pytest

from inputosm_spark.plans.snapshots import SnapshotStore
from inputosm_spark.sources import pbf, replication
from tests import pbf_writer as W
from tests.test_pbf import GOLDEN_NODES, GOLDEN_REL, GOLDEN_WAY
from tests.test_pbf import golden_pbf  # noqa: F401  (fixture)

OSC_101 = """<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
  <create>
    <node id="100" lat="40.7128000" lon="-74.0060000" version="1"
          timestamp="2021-01-02T03:04:05Z" changeset="1234">
      <tag k="note" v="caught-up"/>
    </node>
  </create>
  <modify>
    <way id="10" version="5" timestamp="2021-02-03T04:05:06Z" changeset="2345">
      <nd ref="100"/>
      <nd ref="2"/>
      <tag k="highway" v="secondary"/>
    </way>
  </modify>
  <delete>
    <relation id="20" version="6" timestamp="2021-03-04T05:06:07Z"
              changeset="3456"/>
  </delete>
</osmChange>
"""


@pytest.fixture()
def seeded(spark, tmp_path):
    """PBF with replication header at sequence 100, ingested."""
    hdr = W.header_blob(rep_ts=1_650_000_000, rep_seq=100,
                        rep_url="https://example.org/replication/minute",
                        writing_program="test")
    block = W.primitive_block(lambda st: [
        W.dense_group(st, GOLDEN_NODES),
        W.way_group(st, GOLDEN_WAY),
        W.relation_group(st, GOLDEN_REL),
    ])
    path = W.write_pbf(str(tmp_path / "seed.osm.pbf"), [block], header=hdr)
    store = SnapshotStore(spark, str(tmp_path / "table"))
    replication.ingest_pbf(spark, path, store)
    return store, tmp_path


def test_ingest_surfaces_header_properties(seeded):
    store, _ = seeded
    props = store.properties()
    assert props["osm.replication.sequence"] == "100"
    assert props["osm.replication.timestamp"] == "1650000000"
    assert props["osm.replication.base_url"].endswith("/minute")
    assert replication.current_sequence(store) == 100
    assert store.read().count() == 4  # 2 nodes + way + relation


def test_catch_up_applies_pending_in_order_and_advances(spark, seeded):
    store, tmp_path = seeded
    osc = tmp_path / "101.osc"
    osc.write_text(OSC_101)
    # sequence 100 is already in the table -> must be skipped; 101 applies
    snap = replication.catch_up_osc(
        spark, store, {100: "/nonexistent/100.osc", 101: str(osc)}
    )
    assert snap is not None
    assert replication.current_sequence(store) == 101

    t = store.read()
    assert t.filter("kind = 'node' and id = 100").count() == 1  # created
    way = t.filter("kind = 'way' and id = 10").first()
    assert way.node_refs == [100, 2] and way.version == 5      # modified
    assert t.filter("kind = 'relation'").count() == 0          # deleted

    # idempotent: nothing pending now -> no new snapshot
    assert replication.catch_up_osc(spark, store, {101: str(osc)}) is None


def test_time_travel_preserves_pre_catchup_state(spark, seeded):
    store, tmp_path = seeded
    osc = tmp_path / "101.osc"
    osc.write_text(OSC_101)
    before = store.current_id()
    replication.catch_up_osc(spark, store, {101: str(osc)})
    old = store.read(snapshot_id=before)
    assert old.filter("kind = 'relation'").count() == 1  # VERSION AS OF
    assert store.properties(before)["osm.replication.sequence"] == "100"


def test_catch_up_keys_changes_by_kind_and_id(spark, tmp_path):
    """OSM ids are unique per kind only: node 7, way 7 and relation 7
    are three entities. Deleting node 7 and modifying way 7 in one
    change set must leave relation 7 untouched."""
    same_id = dict(id=7, version=1, ts_s=1_600_000_000, changeset=1)
    block = W.primitive_block(lambda st: [
        W.dense_group(st, [dict(same_id, raw_lat=10**7, raw_lon=10**7,
                                tags={"n": "7"})]),
        W.way_group(st, dict(same_id, node_refs=[7], tags={"w": "7"})),
        W.relation_group(st, dict(same_id, members=[(0, 7, "")],
                                  tags={"r": "7"})),
    ])
    path = W.write_pbf(str(tmp_path / "seven.osm.pbf"), [block],
                       header=W.header_blob(rep_seq=1))
    store = SnapshotStore(spark, str(tmp_path / "table7"))
    replication.ingest_pbf(spark, path, store)
    osc = tmp_path / "2.osc"
    osc.write_text("""<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
  <delete>
    <node id="7" lat="1.0" lon="1.0" version="2"
          timestamp="2021-01-01T00:00:00Z" changeset="2"/>
  </delete>
  <modify>
    <way id="7" version="2" timestamp="2021-01-01T00:00:00Z" changeset="2">
      <nd ref="8"/>
      <tag k="w" v="8"/>
    </way>
  </modify>
</osmChange>
""")
    replication.catch_up_osc(spark, store, {2: str(osc)})

    rows = {(r.kind, r.id): r for r in store.read().collect()}
    assert set(rows) == {("way", 7), ("relation", 7)}
    way = rows[("way", 7)]
    assert way.node_refs == [8] and way.version == 2 and way.tags == {"w": "8"}
    assert rows[("relation", 7)].version == 1



def test_absent_nested_values_agree_across_ingest_paths(spark, tmp_path,
                                                        golden_pbf):
    """The golden entities read four ways — the .osm file, the .pbf
    file, the OSC stream's state table and the replication catch-up —
    carry identical node_refs/members per (kind, id). A kind without
    refs or members has them empty, never NULL: one encoding of
    "none", so size() and IS NULL agree between the tables."""
    from pyspark.sql import functions as F

    from inputosm_spark.sources import osmxml
    from inputosm_spark.streaming import events as stream_ops
    from tests.test_osmxml import OSM

    def nested(df):
        out = {}
        for r in df.select("kind", "id", "node_refs", "members").collect():
            ms = r.members
            out[(r.kind, r.id)] = (
                r.node_refs,
                None if ms is None else [(m.type, m.ref, m.role) for m in ms],
            )
        return out

    # .osm: per-kind frames, a column a kind does not have is "none"
    osm = tmp_path / "g.osm"
    osm.write_text(OSM)
    xn, xw, xr = osmxml.read_osm(spark, str(osm))
    none_refs = F.expr("CAST(array() AS array<long>)")
    none_members = F.expr(
        "CAST(array() AS array<struct<type:int,ref:long,role:string>>)")
    want = nested(
        xn.select(F.lit("node").alias("kind"), "id",
                  none_refs.alias("node_refs"), none_members.alias("members"))
        .unionByName(xw.select(F.lit("way").alias("kind"), "id", "node_refs",
                               none_members.alias("members")))
        .unionByName(xr.select(F.lit("relation").alias("kind"), "id",
                               none_refs.alias("node_refs"), "members"))
    )
    assert want[("way", 10)] == ([1, 2], [])
    assert want[("node", 1)] == ([], [])

    # the same entities as OSC creates, plus the delete of a node the
    # catch-up's seed snapshot holds
    osc = OSM.replace('<osm version="0.6" generator="inputosm_spark-test">',
                      '<osmChange version="0.6">\n<create>').replace(
        "</osm>", '</create>\n<delete><node id="999" lat="0" lon="0" '
        'version="2" timestamp="2021-01-01T00:00:00Z" changeset="9"/>'
        "</delete>\n</osmChange>")
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "1.osc").write_text(osc)
    state = str(tmp_path / "osc_state")
    stream_ops.stream_osc_replication(spark, str(landing), state,
                                      str(tmp_path / "osc_ckpt"))

    seed = W.write_pbf(
        str(tmp_path / "seed999.osm.pbf"),
        [W.primitive_block(lambda st: [W.dense_group(st, [dict(
            id=999, raw_lat=0, raw_lon=0, tags={}, version=1,
            ts_s=1_600_000_000, changeset=1)])])],
        header=W.header_blob(rep_seq=1),
    )
    store = SnapshotStore(spark, str(tmp_path / "table_g"))
    replication.ingest_pbf(spark, seed, store)
    replication.catch_up_osc(spark, store, {2: str(landing / "1.osc")})

    for name, df in (
        ("pbf", pbf.read_pbf_entities(spark, golden_pbf)),
        ("osc stream", spark.read.parquet(state)),
        ("catch-up", store.read()),
    ):
        assert nested(df) == want, name
