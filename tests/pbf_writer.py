"""Test-only OSM PBF ENCODER — builds golden .osm.pbf fixtures from
the public protobuf wire format + OSM PBF spec (the write-side twin of
inputosm_spark/sources/pbf.py, which only decodes). Mirrors the
reference's sample.osm semantics (FIXTURES.md), not its file.
"""

from __future__ import annotations

import zlib


def vu(v: int) -> bytes:
    """Unsigned varint."""
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def sv(v: int) -> bytes:
    """Zigzag-encoded signed varint."""
    return vu(2 * v if v >= 0 else -2 * v - 1)


def key(f: int, wt: int) -> bytes:
    return vu((f << 3) | wt)


def lenf(f: int, payload: bytes) -> bytes:
    return key(f, 2) + vu(len(payload)) + payload


def varf(f: int, v: int) -> bytes:
    """Varint field of a (u)int32/int64 type: negatives go on the wire
    as 10-byte two's complement, per the protobuf spec."""
    return key(f, 0) + vu(v & (2**64 - 1))


def packed(f: int, vals, enc) -> bytes:
    return lenf(f, b"".join(enc(x) for x in vals))


def deltas(vals):
    prev = 0
    out = []
    for v in vals:
        out.append(v - prev)
        prev = v
    return out


class StringTable:
    """Index 0 is the unused empty string, per spec."""

    def __init__(self) -> None:
        self.strings: list[str] = [""]
        self.index: dict[str, int] = {"": 0}

    def sid(self, s: str) -> int:
        if s not in self.index:
            self.index[s] = len(self.strings)
            self.strings.append(s)
        return self.index[s]

    def encode(self) -> bytes:
        return b"".join(lenf(1, s.encode("utf-8")) for s in self.strings)


def info(version: int, ts_s: int, changeset: int) -> bytes:
    return varf(1, version) + varf(2, ts_s) + varf(3, changeset)


def dense_group(st: StringTable, nodes: list[dict]) -> bytes:
    """nodes: [{id, raw_lat, raw_lon, tags, version, ts_s, changeset}]
    (raw_* in 1e7 fixed point == PBF units at granularity 100)."""
    ids = packed(1, deltas([n["id"] for n in nodes]), sv)
    dinfo = (
        packed(1, [n["version"] for n in nodes], vu)
        + packed(2, deltas([n["ts_s"] for n in nodes]), sv)
        + packed(3, deltas([n["changeset"] for n in nodes]), sv)
    )
    lats = packed(8, deltas([n["raw_lat"] for n in nodes]), sv)
    lons = packed(9, deltas([n["raw_lon"] for n in nodes]), sv)
    kv: list[int] = []
    for n in nodes:
        for k, v in n["tags"].items():
            kv.extend((st.sid(k), st.sid(v)))
        kv.append(0)
    dense = ids + lenf(5, dinfo) + lats + lons + packed(10, kv, vu)
    return lenf(2, dense)  # PrimitiveGroup.dense


def plain_node_group(st: StringTable, n: dict) -> bytes:
    msg = (
        key(1, 0) + sv(n["id"])
        + packed(2, [st.sid(k) for k in n["tags"]], vu)
        + packed(3, [st.sid(v) for v in n["tags"].values()], vu)
        + lenf(4, info(n["version"], n["ts_s"], n["changeset"]))
        + key(8, 0) + sv(n["raw_lat"])
        + key(9, 0) + sv(n["raw_lon"])
    )
    return lenf(1, msg)  # PrimitiveGroup.nodes


def way_group(st: StringTable, w: dict) -> bytes:
    msg = (
        varf(1, w["id"])
        + packed(2, [st.sid(k) for k in w["tags"]], vu)
        + packed(3, [st.sid(v) for v in w["tags"].values()], vu)
        + lenf(4, info(w["version"], w["ts_s"], w["changeset"]))
        + packed(8, deltas(w["node_refs"]), sv)
    )
    return lenf(3, msg)  # PrimitiveGroup.ways


def relation_group(st: StringTable, r: dict) -> bytes:
    msg = (
        varf(1, r["id"])
        + packed(2, [st.sid(k) for k in r["tags"]], vu)
        + packed(3, [st.sid(v) for v in r["tags"].values()], vu)
        + lenf(4, info(r["version"], r["ts_s"], r["changeset"]))
        + packed(8, [st.sid(m[2]) for m in r["members"]], vu)   # roles_sid
        + packed(9, deltas([m[1] for m in r["members"]]), sv)   # memids
        + packed(10, [m[0] for m in r["members"]], vu)          # types
    )
    return lenf(4, msg)  # PrimitiveGroup.relations


def primitive_block(
    groups_builder,
    granularity: int = 100,
    lat_offset: int = 0,
    lon_offset: int = 0,
    date_granularity: int = 1000,
) -> bytes:
    """groups_builder(st) -> list of encoded PrimitiveGroup bytes.

    With nonzero offsets/non-default granularity, node coordinate values
    passed to the group builders are PBF UNITS for that block: decoders
    must reconstruct nanodegrees as offset + granularity * unit."""
    st = StringTable()
    groups = groups_builder(st)
    body = lenf(1, st.encode()) + b"".join(lenf(2, g) for g in groups)
    body += varf(17, granularity) + varf(18, date_granularity)
    if lat_offset:
        body += varf(19, lat_offset)
    if lon_offset:
        body += varf(20, lon_offset)
    return body


def blob(payload: bytes, btype: str, codec: str = "zlib") -> bytes:
    if codec == "zlib":
        b = varf(2, len(payload)) + lenf(3, zlib.compress(payload))
    elif codec == "raw":
        b = varf(2, len(payload)) + lenf(1, payload)
    elif codec == "lzma":
        import lzma

        b = varf(2, len(payload)) + lenf(4, lzma.compress(payload))
    elif codec == "bzip2":
        import bz2

        b = varf(2, len(payload)) + lenf(5, bz2.compress(payload))
    elif codec == "zstd":
        import zstandard

        b = varf(2, len(payload)) + lenf(
            7, zstandard.ZstdCompressor().compress(payload)
        )
    else:
        raise ValueError(codec)
    hdr = lenf(1, btype.encode("utf-8")) + varf(3, len(b))
    return len(hdr).to_bytes(4, "big") + hdr + b


def header_blob(
    bbox: tuple[int, int, int, int] | None = None,
    required: tuple[str, ...] = ("OsmSchema-V0.6", "DenseNodes"),
    optional: tuple[str, ...] = (),
    writing_program: str | None = None,
    source: str | None = None,
    rep_ts: int | None = None,
    rep_seq: int | None = None,
    rep_url: str | None = None,
) -> bytes:
    """OSMHeader blob; bbox = (left, right, top, bottom) nanodegrees."""
    hb = b""
    if bbox is not None:
        bb = (key(1, 0) + sv(bbox[0]) + key(2, 0) + sv(bbox[1])
              + key(3, 0) + sv(bbox[2]) + key(4, 0) + sv(bbox[3]))
        hb += lenf(1, bb)
    for r in required:
        hb += lenf(4, r.encode("utf-8"))
    for o in optional:
        hb += lenf(5, o.encode("utf-8"))
    if writing_program:
        hb += lenf(16, writing_program.encode("utf-8"))
    if source:
        hb += lenf(17, source.encode("utf-8"))
    if rep_ts is not None:
        hb += varf(32, rep_ts)
    if rep_seq is not None:
        hb += varf(33, rep_seq)
    if rep_url:
        hb += lenf(34, rep_url.encode("utf-8"))
    return blob(hb, "OSMHeader")


def write_pbf(path: str, data_blocks: list[bytes],
              header: bytes | None = None, codec: str = "zlib") -> str:
    with open(path, "wb") as f:
        f.write(header_blob() if header is None else header)
        for body in data_blocks:
            f.write(blob(body, "OSMData", codec=codec))
    return path
