"""PBF SINK (pbf_encode): vectorized wire-format encode kernels
roundtrip through the decode kernels, and the distributed shard writer
round-trips whole entity DataFrames bit-exactly through the reader.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import tempfile

import numpy as np
import pytest

from inputosm_spark.sources import pbf, pbf_encode


def test_encode_varints_roundtrip_against_decoder():
    vals = np.array([0, 1, 127, 128, 300, 2**21 - 3, 2**35 + 17,
                     2**63 - 1, 7, 0], dtype=np.uint64)
    data, lens = pbf_encode.encode_varints(vals)
    got = pbf.decode_varints(data)
    assert [int(x) for x in got] == [int(x) for x in vals]
    assert int(lens.sum()) == len(data)


def test_zigzag_matches_decoder():
    vals = np.array([0, -1, 1, -2, 2, -(10**12), 10**12, -(2**62)],
                    dtype=np.int64)
    data = pbf_encode.encode_packed_sint64(vals)
    got = pbf.decode_packed_sint64(data)
    assert [int(x) for x in got] == [int(x) for x in vals]


def test_packed_delta_roundtrip():
    vals = np.array([100, 101, 99, 150, -7], dtype=np.int64)
    data = pbf_encode.encode_packed_sint64(vals, delta=True)
    got = pbf.decode_packed_sint64(data, delta=True)
    assert [int(x) for x in got] == [int(x) for x in vals]


def test_delta_reset_restarts_per_list():
    flat = np.array([10, 12, 11, 5, 6], dtype=np.int64)
    offsets = np.array([0, 3, 5], dtype=np.int64)
    d = pbf_encode._delta_reset(flat, offsets)
    assert list(d) == [10, 2, -1, 5, 1]  # second list restarts at 5


def _entity_df(spark):
    ts = dt.datetime(2021, 5, 6, 7, 8, 9)
    rows = [
        ("node", 1, 525200000, 134050000, None, None,
         {"name": "Node One", "amenity": "cafe"}, 3, ts, 111),
        ("node", 2, 488566000, 23522000, None, None,
         {"name": "Node Two"}, 2, ts, 222),
        ("node", 3, -10000000, -20000000, None, None, {}, 1, ts, 5),
        ("way", 10, None, None, [1, 2, 3], None,
         {"highway": "residential"}, 4, ts, 333),
        ("way", 11, None, None, [3], None, {}, 1, ts, 334),
        ("relation", 20, None, None, None,
         [(0, 1, "stop"), (1, 10, "route"), (2, 20, "")],
         {"type": "route"}, 5, ts, 444),
    ]
    return spark.createDataFrame(rows, pbf._ENTITY_DDL)


def _rowset(df):
    out = set()
    for r in df.collect():
        out.add((
            r.kind, r.id, r.raw_lat, r.raw_lon,
            tuple(r.node_refs) if r.node_refs is not None else None,
            tuple((m.type, m.ref, m.role) for m in r.members)
            if r.members is not None else None,
            tuple(sorted(r.tags.items())) if r.tags is not None else None,
            r.version, r.ts, r.changeset,
        ))
    return out


def test_shard_writer_roundtrips_all_kinds(spark, tmp_path):
    ent = _entity_df(spark).repartition(2)
    out = str(tmp_path / "shards")
    summary = pbf_encode.write_pbf_shards(ent, out)
    assert sum(s["n_nodes"] for s in summary) == 3
    assert sum(s["n_ways"] for s in summary) == 2
    assert sum(s["n_relations"] for s in summary) == 1

    back = None
    for s in summary:
        part = pbf.read_pbf_entities(spark, s["path"])
        back = part if back is None else back.unionByName(part)
    got = _rowset(back)
    want = _rowset(_entity_df(spark))
    # the sink normalizes null nested cols to empty (wire format has no
    # null list), and null tags to {}; the reader decodes a kind's
    # absent node_refs/members as empty too
    norm = {
        (k, i, la, lo,
         nr if nr is not None else (),
         mb if mb is not None else (),
         tg if tg is not None else (), v, t, c)
        for (k, i, la, lo, nr, mb, tg, v, t, c) in want
    }
    assert {x[:2] for x in got} == {x[:2] for x in norm}
    # field-exact for every entity
    gd = {x[:2]: x for x in got}
    for w in norm:
        g = gd[w[:2]]
        assert g == w, f"mismatch for {w[:2]}: {g} != {w}"


def test_shard_writer_cross_validates_with_independent_encoder(spark, tmp_path):
    """The package encoder and the hand-rolled test encoder are
    independent implementations; decoding both must agree."""
    from tests import pbf_writer as W

    nodes = [
        dict(id=7, raw_lat=111, raw_lon=-222, tags={"a": "b"},
             version=1, ts_s=1_600_000_000, changeset=9),
        dict(id=8, raw_lat=112, raw_lon=-223, tags={},
             version=2, ts_s=1_600_000_100, changeset=10),
    ]
    ref_path = W.write_pbf(
        str(tmp_path / "ref.osm.pbf"),
        [W.primitive_block(lambda st: [W.dense_group(st, nodes)])],
    )
    ts = dt.datetime.fromtimestamp(1_600_000_000, dt.timezone.utc)
    ts2 = dt.datetime.fromtimestamp(1_600_000_100, dt.timezone.utc)
    ent = spark.createDataFrame(
        [("node", 7, 111, -222, None, None, {"a": "b"}, 1,
          ts.replace(tzinfo=None), 9),
         ("node", 8, 112, -223, None, None, {}, 2,
          ts2.replace(tzinfo=None), 10)],
        pbf._ENTITY_DDL,
    ).coalesce(1)
    summary = pbf_encode.write_pbf_shards(ent, str(tmp_path / "mine"))
    a = _rowset(pbf.read_pbf_entities(spark, ref_path))
    b = _rowset(pbf.read_pbf_entities(spark, summary[0]["path"]))
    assert a == b


def test_large_block_chunking(spark, tmp_path):
    """> ENTITIES_PER_BLOCK nodes split into multiple blocks, all
    decoded (and the shard is multi-blob for the reader's planner)."""
    n = pbf_encode.ENTITIES_PER_BLOCK + 50
    df = spark.range(n).selectExpr(
        "'node' AS kind", "id", "id * 3 AS raw_lat", "id * 5 AS raw_lon",
        "CAST(NULL AS array<long>) AS node_refs",
        "CAST(NULL AS array<struct<type:int,ref:long,role:string>>) "
        "AS members",
        "map('k', CAST(id % 7 AS string)) AS tags",
        "CAST(1 AS int) AS version",
        "timestamp'2021-01-01 00:00:00' AS ts", "id AS changeset",
    ).coalesce(1)
    summary = pbf_encode.write_pbf_shards(df, str(tmp_path / "big"))
    path = summary[0]["path"]
    plans = [p for p in pbf.plan_blobs(path) if p["blob_type"] == "OSMData"]
    assert len(plans) == 2
    back = pbf.read_pbf_entities(spark, path)
    assert back.count() == n
    assert back.agg({"raw_lat": "sum"}).first()[0] == 3 * n * (n - 1) // 2


def test_pbf_roundtrip_hermetic(spark, sf_dir):
    """r6 directive #1: two interleaved invocations must not share any
    filesystem state — build A, build B (which under the old fixed
    sf-keyed dir would rmtree/rewrite A's shards), then read A. Both
    must agree, and no shard temp dirs may survive."""
    from inputosm_spark.queries_catalog import _pbf_roundtrip_frame

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "inputosm_pbf_rt_*")))
    a = _pbf_roundtrip_frame(spark, sf_dir, mod=4)
    b = _pbf_roundtrip_frame(spark, sf_dir, mod=4)
    rows_a = sorted(
        (r.id, r.raw_lat, r.raw_lon, r.changeset)
        for r in a.select("id", "raw_lat", "raw_lon", "changeset").collect()
    )
    rows_b = sorted(
        (r.id, r.raw_lat, r.raw_lon, r.changeset)
        for r in b.select("id", "raw_lat", "raw_lon", "changeset").collect()
    )
    assert rows_a == rows_b and len(rows_a) > 0
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "inputosm_pbf_rt_*")))
    assert after == before  # every invocation cleans its own mkdtemp
