"""PBF ingest (S2/S3/S5/S6/S7/F3): golden-fixture parity with the XML
path and with the reference's expected parses
(/root/reference/test/unit/read_osm_test.cpp:142-328), plus unit tests
for the numpy varint kernel against an independent encoder.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from inputosm_spark.sources import osmxml, pbf
from inputosm_spark.streaming.events import drain
from tests import pbf_writer as W
from tests.test_osmxml import OSM, _rows, _write


def _epoch(s: str) -> int:
    return int(dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc)
               .timestamp())


GOLDEN_NODES = [
    dict(id=1, raw_lat=525200000, raw_lon=134050000,
         tags={"name": "Node One", "amenity": "cafe"},
         version=3, ts_s=_epoch("2020-01-02T03:04:05"), changeset=111),
    dict(id=2, raw_lat=488566000, raw_lon=23522000,
         tags={"name": "Node Two"},
         version=2, ts_s=_epoch("2020-02-03T04:05:06"), changeset=222),
]
GOLDEN_WAY = dict(id=10, node_refs=[1, 2],
                  tags={"highway": "residential", "name": "A Street"},
                  version=4, ts_s=_epoch("2020-03-04T05:06:07"), changeset=333)
GOLDEN_REL = dict(id=20, members=[(0, 1, "stop"), (1, 10, "route")],
                  tags={"type": "route", "route": "bus"},
                  version=5, ts_s=_epoch("2020-04-05T06:07:08"), changeset=444)


@pytest.fixture()
def golden_pbf(tmp_path) -> str:
    """Two OSMData blobs: blob A carries node 1 as DENSE and node 2 as
    a PLAIN Node (both decode paths); blob B carries the way and the
    relation — multi-blob planning is exercised, not just one block."""
    block_a = W.primitive_block(
        lambda st: [
            W.dense_group(st, [GOLDEN_NODES[0]]),
            W.plain_node_group(st, GOLDEN_NODES[1]),
        ]
    )
    block_b = W.primitive_block(
        lambda st: [W.way_group(st, GOLDEN_WAY), W.relation_group(st, GOLDEN_REL)]
    )
    return W.write_pbf(str(tmp_path / "sample.osm.pbf"), [block_a, block_b])


# --- wire-format unit tests (S6/F3) -----------------------------------------


def test_numpy_varint_roundtrip():
    vals = [0, 1, 127, 128, 300, 2**21 - 3, 2**35 + 17, 2**63 - 1]
    data = b"".join(W.vu(v) for v in vals)
    got = pbf.decode_varints(data)
    assert [int(x) for x in got] == vals


def test_zigzag_roundtrip_including_negatives():
    vals = [0, -1, 1, -2, 2, -(10**12), 10**12, -(2**62)]
    data = b"".join(W.sv(v) for v in vals)
    got = pbf.decode_packed_sint64(data)
    assert [int(x) for x in got] == vals


def test_delta_decoding():
    vals = [100, 101, 99, 150, -7]
    data = b"".join(W.sv(d) for d in W.deltas(vals))
    got = pbf.decode_packed_sint64(data, delta=True)
    assert [int(x) for x in got] == vals


def test_field_iterator_wire_types():
    msg = W.varf(1, 42) + W.lenf(2, b"abc") + W.varf(3, 7)
    fields = [(f, w, bytes(v) if w == 2 else v) for f, w, v in pbf.iter_fields(msg)]
    assert fields == [(1, 0, 42), (2, 2, b"abc"), (3, 0, 7)]


# --- blob planning (S3) -------------------------------------------------------


def test_plan_blobs_headers_only(golden_pbf):
    plans = pbf.plan_blobs(golden_pbf)
    assert [p["blob_type"] for p in plans] == ["OSMHeader", "OSMData", "OSMData"]
    offs = [p["offset"] for p in plans]
    assert offs == sorted(offs) and all(p["datasize"] > 0 for p in plans)


# --- golden parse (S2/S7-S11) --------------------------------------------------


def test_read_pbf_matches_golden(spark, golden_pbf):
    nodes, ways, rels = pbf.read_pbf(spark, golden_pbf)
    assert (nodes.count(), ways.count(), rels.count()) == (2, 1, 1)

    n1 = nodes.filter("id = 1").first()  # dense path
    assert n1.raw_lat == 525200000 and n1.raw_lon == 134050000
    assert n1.tags == {"name": "Node One", "amenity": "cafe"}
    assert n1.version == 3 and n1.changeset == 111
    assert n1.ts == dt.datetime(2020, 1, 2, 3, 4, 5)

    n2 = nodes.filter("id = 2").first()  # plain-Node path
    assert n2.raw_lat == 488566000 and n2.raw_lon == 23522000
    assert n2.tags == {"name": "Node Two"}

    w = ways.first()
    assert w.node_refs == [1, 2]  # ordered (read_osm_test.cpp:246-250)
    assert w.tags == {"highway": "residential", "name": "A Street"}

    r = rels.first()
    assert [(m.type, m.ref, m.role) for m in r.members] == [
        (0, 1, "stop"), (1, 10, "route"),
    ]
    assert r.tags == {"type": "route", "route": "bus"}


def test_read_pbf_parity_with_xml(spark, golden_pbf, tmp_path):
    """The .pbf and .osm encodings of the same entities must parse to
    identical DataFrames — the two ingest paths are interchangeable."""
    pn, pw, pr = pbf.read_pbf(spark, golden_pbf)
    xn, xw, xr = osmxml.read_osm(spark, _write(tmp_path, "s.osm", OSM))
    for got, want in ((pn, xn), (pw, xw), (pr, xr)):
        assert _rows(got) == _rows(want)


def test_read_pbf_many_blobs_partitioning(spark, tmp_path):
    """One task per blob: 8 blobs -> >1 partition and complete rows."""
    blocks = []
    for b in range(8):
        ns = [
            dict(id=100 * b + i, raw_lat=10**7 + b * 1000 + i,
                 raw_lon=2 * 10**7 + i, tags={"blk": str(b)},
                 version=1, ts_s=1_600_000_000 + b, changeset=b)
            for i in range(5)
        ]
        blocks.append(W.primitive_block(lambda st, ns=ns: [W.dense_group(st, ns)]))
    path = W.write_pbf(str(tmp_path / "many.osm.pbf"), blocks)
    ent = pbf.read_pbf_entities(spark, path)
    assert ent.count() == 40
    assert ent.rdd.getNumPartitions() > 1
    got = sorted(r.id for r in ent.select("id").collect())
    assert got == sorted(100 * b + i for b in range(8) for i in range(5))


def test_nonzero_granularity_and_offsets_applied(spark, tmp_path):
    """Spec-valid blocks may carry lat_offset/lon_offset + non-default
    granularity; BOTH node decode paths (dense + plain) must apply them:
    nanodeg = offset + granularity * unit (osmformat spec). Regression
    for the dense path silently passing offset 0."""
    nd = dict(id=1, raw_lat=5_252_000, raw_lon=1_340_500, tags={},
              version=1, ts_s=1_600_000_000, changeset=1)  # PBF UNITS
    pn = dict(id=2, raw_lat=4_885_660, raw_lon=235_220, tags={},
              version=1, ts_s=1_600_000_000, changeset=2)
    block = W.primitive_block(
        lambda st: [W.dense_group(st, [nd]), W.plain_node_group(st, pn)],
        granularity=1000, lat_offset=500, lon_offset=700,
    )
    path = W.write_pbf(str(tmp_path / "off.osm.pbf"), [block])
    nodes, _, _ = pbf.read_pbf(spark, path)
    rows = {r.id: r for r in nodes.collect()}
    assert rows[1].raw_lat == (500 + 1000 * 5_252_000) // 100  # dense
    assert rows[1].raw_lon == (700 + 1000 * 1_340_500) // 100
    assert rows[2].raw_lat == (500 + 1000 * 4_885_660) // 100  # plain
    assert rows[2].raw_lon == (700 + 1000 * 235_220) // 100


def test_file_type_dispatch(spark, golden_pbf, tmp_path):
    """S1: extension dispatch routes .pbf and .osm to the right reader."""
    from inputosm_spark.sources.registry import read_osm_file

    pn, _, _ = read_osm_file(spark, golden_pbf)
    xn, _, _ = read_osm_file(spark, _write(tmp_path, "s.osm", OSM))
    assert _rows(pn) == _rows(xn)
    with pytest.raises(ValueError):
        read_osm_file(spark, "/nope/file.txt")


def test_read_header_fields(tmp_path):
    """S12: bbox, features, writing program, replication coordinates
    all decode from the OSMHeader blob
    (reference read_header_block, inputosmpbf.cpp:762-841)."""
    hdr = W.header_blob(
        bbox=(-1_000_000_000, 2_000_000_000, 500_000_000, -600_000_000),
        optional=("Sort.Type_then_ID",),
        writing_program="inputosm_spark-test",
        source="unit-test",
        rep_ts=1_650_000_000,
        rep_seq=4242,
        rep_url="https://example.org/replication/minute",
    )
    block = W.primitive_block(
        lambda st: [W.dense_group(st, [dict(
            id=1, raw_lat=0, raw_lon=0, tags={}, version=1,
            ts_s=1_600_000_000, changeset=1)])]
    )
    path = W.write_pbf(str(tmp_path / "h.osm.pbf"), [block], header=hdr)
    h = pbf.read_header(path)
    assert h["bbox"] == {"left": -1_000_000_000, "right": 2_000_000_000,
                         "top": 500_000_000, "bottom": -600_000_000}
    assert h["required_features"] == ["OsmSchema-V0.6", "DenseNodes"]
    assert h["optional_features"] == ["Sort.Type_then_ID"]
    assert h["writing_program"] == "inputosm_spark-test"
    assert h["source"] == "unit-test"
    assert h["replication_timestamp"] == 1_650_000_000
    assert h["replication_sequence"] == 4242
    assert h["replication_base_url"] == "https://example.org/replication/minute"


def test_unsupported_required_feature_refused(spark, tmp_path):
    """A file REQUIRING a feature this decoder doesn't implement must
    be refused up front, not half-read (reference semantics)."""
    hdr = W.header_blob(required=("OsmSchema-V0.6", "HistoricalInformation"))
    block = W.primitive_block(
        lambda st: [W.dense_group(st, [dict(
            id=1, raw_lat=0, raw_lon=0, tags={}, version=1,
            ts_s=1_600_000_000, changeset=1)])]
    )
    path = W.write_pbf(str(tmp_path / "bad.osm.pbf"), [block], header=hdr)
    with pytest.raises(ValueError, match="HistoricalInformation"):
        pbf.read_pbf_entities(spark, path)


def test_headerless_file_reads_fine(spark, tmp_path):
    """No OSMHeader blob -> empty header dict, data still decodes."""
    block = W.primitive_block(
        lambda st: [W.dense_group(st, [dict(
            id=7, raw_lat=5, raw_lon=6, tags={}, version=1,
            ts_s=1_600_000_000, changeset=1)])]
    )
    path = str(tmp_path / "nohdr.osm.pbf")
    with open(path, "wb") as f:
        f.write(W.blob(block, "OSMData"))
    assert pbf.read_header(path)["replication_sequence"] is None
    assert pbf.read_pbf_entities(spark, path).count() == 1


def test_varint_roundtrip_property():
    """Property-based: any uint64 list survives encode->numpy-decode."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=50))
    def check(vals):
        data = b"".join(W.vu(v) for v in vals)
        got = pbf.decode_varints(data)
        assert [int(x) for x in got] == vals

    check()


def test_zigzag_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                    max_size=50))
    def check(vals):
        data = b"".join(W.sv(v) for v in vals)
        got = pbf.decode_packed_sint64(data)
        assert [int(x) for x in got] == vals

    check()


def test_malformed_inputs_raise():
    # unsupported wire type 3 (group start) must raise, not misparse
    with pytest.raises(ValueError):
        list(pbf.iter_fields(W.key(1, 3) + b"\x00"))
    # blob with neither raw nor zlib payload
    with pytest.raises(ValueError):
        pbf._blob_payload(W.varf(2, 10))
    # truncated file: planning stops cleanly at the partial header
    import io, tempfile, os as _os
    with tempfile.NamedTemporaryFile(delete=False, suffix=".pbf") as f:
        f.write(W.header_blob()[: 7])  # cut inside the header
        path = f.name
    try:
        with pytest.raises(Exception):
            pbf.plan_blobs(path)
    finally:
        _os.unlink(path)


@pytest.mark.parametrize("codec", ["raw", "zlib", "lzma", "bzip2", "zstd"])
def test_blob_codecs_decode_identically(spark, tmp_path, codec):
    """Every fileformat.proto codec yields the same entities: raw/zlib
    (the reference's coverage), lzma/bzip2 (stdlib), zstd (import-gated
    — skipped when the module is absent, and the import-gate error is
    asserted instead)."""
    block = W.primitive_block(
        lambda st: [W.dense_group(st, [GOLDEN_NODES[0]]),
                    W.way_group(st, GOLDEN_WAY)]
    )
    have_zstd = True
    if codec == "zstd":
        try:
            import zstandard  # noqa: F401
        except ImportError:
            have_zstd = False
    if codec == "zstd" and not have_zstd:
        import zlib as _z

        payload = _z.compress(b"x")  # fake zstd field with zlib bytes
        fake = (W.varf(2, 1) + W.lenf(7, payload))
        with pytest.raises(ValueError, match="zstandard"):
            pbf._blob_payload(fake)
        return
    path = W.write_pbf(str(tmp_path / f"c_{codec}.osm.pbf"), [block],
                       codec=codec)
    ent = pbf.read_pbf_entities(spark, path)
    rows = {(r.kind, r.id) for r in ent.collect()}
    assert rows == {("node", 1), ("way", 10)}


def test_unknown_blob_payload_raises():
    with pytest.raises(ValueError, match="no recognized payload"):
        pbf._blob_payload(W.varf(2, 5))


def test_read_pbf_stream_matches_batch(spark, tmp_path):
    """Streaming landing zone == batch reader: two files land, the
    drained stream's entities equal the union of batch reads, and each
    row is tagged with its source file."""
    landing = tmp_path / "landing"
    landing.mkdir()
    paths = []
    for i in range(2):
        ns = [dict(id=1000 * i + j, raw_lat=10**7 + j, raw_lon=-(10**7) + j,
                   tags={"f": str(i)}, version=1,
                   ts_s=1_600_000_000, changeset=i) for j in range(4)]
        block = W.primitive_block(
            lambda st, ns=ns, i=i: [
                W.dense_group(st, ns),
                W.way_group(st, dict(id=5000 + i, node_refs=[1000 * i, 1000 * i + 1],
                                     tags={}, version=1,
                                     ts_s=1_600_000_000, changeset=i)),
            ]
        )
        paths.append(W.write_pbf(str(landing / f"drop{i}.osm.pbf"), [block]))

    src = pbf.read_pbf_stream(spark, str(landing), max_files_per_trigger=1)
    out = str(tmp_path / "stream_out")
    drain(src, str(tmp_path / "ckpt"), out)
    got = spark.read.parquet(out)

    batch_rows = set()
    for p in paths:
        for r in pbf.read_pbf_entities(spark, p).select("kind", "id").collect():
            batch_rows.add((r.kind, r.id))
    stream_rows = {(r.kind, r.id) for r in got.select("kind", "id").collect()}
    assert stream_rows == batch_rows and len(stream_rows) == 10
    files = {r.source_file for r in got.select("source_file").collect()}
    assert len(files) == 2 and all("drop" in f for f in files)


def test_read_pbf_stream_rejects_bad_required_feature(spark, tmp_path):
    landing = tmp_path / "bad_landing"
    landing.mkdir()
    block = W.primitive_block(
        lambda st: [W.dense_group(st, [GOLDEN_NODES[0]])]
    )
    hdr = W.header_blob(required=("OsmSchema-V0.6", "Exotic-Feature-v9"))
    W.write_pbf(str(landing / "bad.osm.pbf"), [block], header=hdr)
    src = pbf.read_pbf_stream(spark, str(landing))
    import pyspark.errors

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        drain(src, str(tmp_path / "bad_ckpt"), str(tmp_path / "bad_out"))


# --- single-blob public API (input_blob_mem parity,
# /root/reference/src/inputosmpbf.cpp:917-956) --------------------------------


def test_input_blob_mem_decodes_one_data_blob():
    """Decode one in-memory OSMData blob — no file, no Spark — and get
    the golden entities back as an Arrow table."""
    block = W.primitive_block(
        lambda st: [
            W.dense_group(st, [GOLDEN_NODES[0]]),
            W.way_group(st, GOLDEN_WAY),
        ]
    )
    framed = W.blob(block, "OSMData")
    (btype, blob_bytes), = list(pbf._iter_blob_frames(framed))
    assert btype == "OSMData"
    tbl = pbf.input_blob_mem(blob_bytes)
    rows = {(r["kind"], r["id"]): r for r in tbl.to_pylist()}
    assert set(rows) == {("node", 1), ("way", 10)}
    n = rows[("node", 1)]
    assert n["raw_lat"] == GOLDEN_NODES[0]["raw_lat"]
    assert n["raw_lon"] == GOLDEN_NODES[0]["raw_lon"]
    assert dict(n["tags"]) == GOLDEN_NODES[0]["tags"]
    assert n["version"] == 3 and n["changeset"] == 111
    w = rows[("way", 10)]
    assert w["node_refs"] == [1, 2]
    assert dict(w["tags"]) == GOLDEN_WAY["tags"]


def test_input_blob_mem_header_roundtrip_and_validation():
    framed = W.header_blob(
        bbox=(-1000, 2000, 3000, -4000),
        writing_program="test-writer",
        rep_seq=42,
    )
    (btype, blob_bytes), = list(pbf._iter_blob_frames(framed))
    hdr = pbf.input_blob_mem(blob_bytes, blob_type=btype)
    assert hdr["bbox"] == {"left": -1000, "right": 2000,
                           "top": 3000, "bottom": -4000}
    assert hdr["writing_program"] == "test-writer"
    assert hdr["replication_sequence"] == 42

    bad = W.header_blob(required=("FutureFeature-V9",))
    (_, bad_bytes), = list(pbf._iter_blob_frames(bad))
    with pytest.raises(ValueError, match="unsupported required_features"):
        pbf.input_blob_mem(bad_bytes, blob_type="OSMHeader")


def test_input_blob_mem_rejects_unknown_type():
    with pytest.raises(ValueError, match="unknown blob_type"):
        pbf.input_blob_mem(b"\x0a\x00", blob_type="SomethingElse")


def _decode_block(groups_builder):
    (_, data), = pbf._iter_blob_frames(
        W.blob(W.primitive_block(groups_builder), "OSMData")
    )
    return pbf.input_blob_mem(data).to_pylist()


def test_negative_way_and_relation_ids_decode():
    """Way.id and Relation.id are int64, not sint64: a negative id is a
    10-byte two's-complement varint (>= 2^63 as unsigned) and must
    decode back to the negative id."""
    rows = _decode_block(lambda st: [
        W.way_group(st, dict(GOLDEN_WAY, id=-5)),
        W.relation_group(st, dict(GOLDEN_REL, id=-(2**63))),
    ])
    assert [(r["kind"], r["id"]) for r in rows] == [
        ("way", -5), ("relation", -(2**63)),
    ]


def test_blob_with_all_packed_refs_and_members_empty():
    """Every way without refs and every relation without members in a
    blob: the per-chunk delta decode sees zero values in total."""
    rows = _decode_block(lambda st: [
        W.way_group(st, dict(GOLDEN_WAY, node_refs=[])),
        W.way_group(st, dict(GOLDEN_WAY, id=11, node_refs=[])),
        W.relation_group(st, dict(GOLDEN_REL, members=[])),
    ])
    assert [(r["kind"], r["id"], r["node_refs"], r["members"]) for r in rows] == [
        ("way", 10, [], []), ("way", 11, [], []),
        ("relation", 20, [], []),
    ]
    assert dict(rows[2]["tags"]) == GOLDEN_REL["tags"]
