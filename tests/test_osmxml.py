"""OSM XML / OSC ingest parity — mirrors the reference's golden
fixture tests (/root/reference/test/unit/read_osm_test.cpp:142-328,
read_osc_test.cpp:40-213): exact counts, fixed-point coords, tag maps,
ordered refs/members, CDC op semantics.

Fixture content is defined HERE (FIXTURES.md values), written to tmp —
the reference's sample.osm semantics, not its file.
"""

from __future__ import annotations

import datetime as dt

from inputosm_spark.datagen import (
    golden_changes,
    golden_nodes,
    golden_relations,
    golden_ways,
)
from inputosm_spark.sources import osmxml
from inputosm_spark.streaming.events import drain

OSM = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6" generator="inputosm_spark-test">
  <node id="1" lat="52.5200000" lon="13.4050000" version="3"
        timestamp="2020-01-02T03:04:05Z" changeset="111">
    <tag k="name" v="Node One"/>
    <tag k="amenity" v="cafe"/>
  </node>
  <node id="2" lat="48.8566000" lon="2.3522000" version="2"
        timestamp="2020-02-03T04:05:06Z" changeset="222">
    <tag k="name" v="Node Two"/>
  </node>
  <way id="10" version="4" timestamp="2020-03-04T05:06:07Z" changeset="333">
    <nd ref="1"/>
    <nd ref="2"/>
    <tag k="highway" v="residential"/>
    <tag k="name" v="A Street"/>
  </way>
  <relation id="20" version="5" timestamp="2020-04-05T06:07:08Z" changeset="444">
    <member type="node" ref="1" role="stop"/>
    <member type="way" ref="10" role="route"/>
    <tag k="type" v="route"/>
    <tag k="route" v="bus"/>
  </relation>
</osm>
"""

OSC = """<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
  <create>
    <node id="100" lat="40.7128000" lon="-74.0060000" version="7"
          timestamp="2021-01-02T03:04:05Z" changeset="1234">
      <tag k="name" v="Create Node"/>
      <tag k="note" v="created"/>
    </node>
  </create>
  <modify>
    <way id="200" version="8" timestamp="2021-02-03T04:05:06Z" changeset="2345">
      <nd ref="100"/>
      <nd ref="101"/>
      <tag k="highway" v="secondary"/>
      <tag k="status" v="modified"/>
    </way>
  </modify>
  <delete>
    <relation id="300" version="9" timestamp="2021-03-04T05:06:07Z" changeset="3456">
      <member type="node" ref="100" role="stop"/>
      <member type="way" ref="200" role="route"/>
      <tag k="type" v="route"/>
      <tag k="route" v="tram"/>
    </relation>
  </delete>
</osmChange>
"""


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def _rows(df):
    """Canonical row list (map columns bar set-ops, so compare values;
    order-insensitive by id — like the by-id lookups at
    read_osm_test.cpp:55-60)."""
    return sorted((r.asDict(recursive=True) for r in df.collect()),
                  key=lambda r: r["id"])


def _same(got, want):
    return _rows(got) == _rows(want)


def test_read_osm_matches_golden(spark, tmp_path):
    """Parsed DataFrames equal the transcribed golden rows exactly
    (counts 2/1/1, fixed-point coords, tags, ordered refs/members)."""
    nodes, ways, rels = osmxml.read_osm(spark, _write(tmp_path, "s.osm", OSM))
    for got, want in (
        (nodes, golden_nodes(spark)),
        (ways, golden_ways(spark)),
        (rels, golden_relations(spark)),
    ):
        assert got.count() == want.count()
        assert _same(got, want)


def test_read_osm_field_values(spark, tmp_path):
    nodes, ways, rels = osmxml.read_osm(spark, _write(tmp_path, "s.osm", OSM))
    n1 = nodes.filter("id = 1").first()
    assert n1.raw_lat == 525200000 and n1.raw_lon == 134050000  # 52.52 * 1e7
    assert n1.tags == {"name": "Node One", "amenity": "cafe"}
    assert n1.ts == dt.datetime(2020, 1, 2, 3, 4, 5)
    w = ways.first()
    assert w.node_refs == [1, 2]  # ordered (read_osm_test.cpp:246-250)
    r = rels.first()
    assert [(m.type, m.ref, m.role) for m in r.members] == [
        (0, 1, "stop"), (1, 10, "route"),
    ]


def test_read_osc_ops(spark, tmp_path):
    """op column mirrors the enclosing <create>/<modify>/<delete>
    section (read_osc_test.cpp:49-52, 97-100, 146-149)."""
    nodes, ways, rels = osmxml.read_osc(spark, _write(tmp_path, "s.osc", OSC))
    gn, gw, gr = golden_changes(spark)
    assert nodes.first().op == "create"
    assert ways.first().op == "modify"
    assert rels.first().op == "delete"
    assert ways.first().node_refs == [100, 101]
    for got, want in ((nodes, gn), (ways, gw), (rels, gr)):
        assert _same(got, want)


def test_apply_changes_merge_semantics(spark, tmp_path):
    """create inserts, modify replaces, delete removes — keyed
    latest-wins merge (mode_t semantics as MERGE INTO)."""
    nodes, ways, rels = osmxml.read_osm(spark, _write(tmp_path, "s.osm", OSM))
    cn, cw, cr = osmxml.read_osc(spark, _write(tmp_path, "s.osc", OSC))

    merged_nodes = osmxml.apply_changes(nodes, cn)
    assert merged_nodes.count() == 3  # 2 base + 1 created
    assert merged_nodes.filter("id = 100").first().tags["note"] == "created"

    merged_ways = osmxml.apply_changes(ways, cw)
    assert merged_ways.count() == 2
    assert merged_ways.filter("id = 200").first().node_refs == [100, 101]

    # deleting relation 300 (absent in base) leaves base untouched
    merged_rels = osmxml.apply_changes(rels, cr)
    assert merged_rels.count() == 1 and merged_rels.first().id == 20


def test_apply_changes_multiple_ops_same_key(spark):
    """Sequential-replay semantics when one change set carries several
    ops for one key (inputosmxml.cpp:243-257): only the LAST op IN FILE
    ORDER decides — create+modify must not leave duplicate rows, a
    delete followed by a create keeps the row, and a later op with a
    LOWER version (a revert) still wins, exactly as a sequential replay
    of the file would behave."""
    base = spark.createDataFrame(
        [(1, 1, "keep"), (2, 1, "gone")], "id long, version int, tags string"
    )
    ch = spark.createDataFrame(
        [
            # key 2: create v2 then delete v3 -> removed
            (2, 2, "recreated", "create"),
            (2, 3, None, "delete"),
            # key 3: delete v1 then create v2 -> present with v2 row
            (3, 1, None, "delete"),
            (3, 2, "born", "create"),
            # key 4: create v1 then modify v2 -> ONE row, the v2 state
            (4, 1, "draft", "create"),
            (4, 2, "final", "modify"),
            # key 5: REVERT — later file position, lower version, wins
            (5, 3, "newer", "create"),
            (5, 1, "revert", "modify"),
        ],
        "id long, version int, tags string, op string",
    )
    got = {r.id: r for r in osmxml.apply_changes(base, ch).collect()}
    assert set(got) == {1, 3, 4, 5}  # 2 deleted, no duplicates anywhere
    assert got[3].tags == "born" and got[3].version == 2
    assert got[4].tags == "final" and got[4].version == 2
    assert got[5].tags == "revert" and got[5].version == 1


def test_read_osc_stream_matches_batch(spark, tmp_path):
    """Streaming OSC landing zone == batch read_osc per file: ops,
    entities, tags, members and source tagging all line up."""
    landing = tmp_path / "osc_landing"
    landing.mkdir()
    p1 = _write(landing, "a.osc", OSC)
    OSC2 = OSC.replace('id="100"', 'id="101"').replace(
        'id="200"', 'id="201"').replace('id="300"', 'id="301"')
    p2 = _write(landing, "b.osc", OSC2)

    src = osmxml.read_osc_stream(spark, str(landing), max_files_per_trigger=1)
    out = str(tmp_path / "osc_out")
    drain(src, str(tmp_path / "osc_ckpt"), out)
    got = spark.read.parquet(out)

    want = set()
    for p in (p1, p2):
        n, w, r = osmxml.read_osc(spark, p)
        for row in n.collect():
            want.add(("node", row.id, row.op, tuple(sorted(row.tags.items()))))
        for row in w.collect():
            want.add(("way", row.id, row.op, tuple(row.node_refs)))
        for row in r.collect():
            want.add(("relation", row.id, row.op,
                      tuple((m.type, m.ref, m.role) for m in row.members)))
    have = set()
    for row in got.collect():
        if row.kind == "node":
            have.add((row.kind, row.id, row.op,
                      tuple(sorted(row.tags.items()))))
        elif row.kind == "way":
            have.add((row.kind, row.id, row.op, tuple(row.node_refs)))
        else:
            have.add((row.kind, row.id, row.op,
                      tuple((m.type, m.ref, m.role) for m in row.members)))
    assert have == want and len(have) == 6
    assert {r.source_file.rsplit("/", 1)[-1] for r in got.collect()} == \
        {"a.osc", "b.osc"}
