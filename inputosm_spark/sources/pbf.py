"""OSM PBF source: blob-planned, executor-parallel decode.

The reference's native input (`input_pbf`,
/root/reference/src/inputosmpbf.cpp:1028-1056) is a work queue of
compressed blobs: a cheap planning pass walks the file reading ONLY
the 4-byte BlobHeader lengths and `datasize` fields (blob planning,
inputosmpbf.cpp:972-1001), then worker threads decompress and decode
blobs independently. The Spark-first translation keeps exactly that
split:

* `plan_blobs` runs on the DRIVER and touches only headers — O(#blobs)
  tiny reads, no decompression (at 100 TB of .pbf this is seconds).
* The blob descriptor table becomes a DataFrame spread one-ish blob
  per task; `mapInArrow` workers seek/read/decompress/decode their
  blobs independently — the reference's thread pool becomes Spark's
  executor scheduling, and its capacity/restart machinery
  (inputosmpbf.cpp:199-220) is replaced by Spark memory management
  (SURVEY.md §7).
* Every source — the batch reader, the streaming landing zone and the
  single-blob `input_blob_mem` — decodes a Blob through the one
  generator `_blob_batches`, and every entity kind (dense nodes, plain
  nodes, ways, relations) decodes columnar: numpy arrays straight into
  Arrow batches built by one `_batch`, with no per-row Python beyond
  the protobuf framing walk.

Wire-format pieces the reference implements in C++ are re-derived here
from the PUBLIC protobuf + OSM PBF specs, not transliterated:

* protobuf field iterator (S5; reference read_field,
  inputosmpbf.cpp:132-166) -> `iter_fields`.
* varint/zigzag decoders (S6/F3; reference read_varint_*,
  inputosmpbf.cpp:103-129) -> `read_varint` + the NUMPY batch decoder
  `_decode_chunk_varints` (all continuation-bit math vectorized; all
  packed fields of a blob cost <=10 numpy passes, not one Python loop
  per value; `decode_varints` is its one-payload case).
* string-table decode (S7, inputosmpbf.cpp:84,333-351), dense-node
  delta chains (S8, :226-372), plain-node/way/relation decode
  (S9/S10, :386-470/:470-600), DenseInfo and Info metadata (S11).

Coordinates are normalized to the engine's canonical 1e7 fixed point
(raw_lat = nanodegrees/100, matching the XML path and FIXTURES.md),
applying granularity/offset per the PBF spec — unlike the reference,
which leaves granularity units in node_t and defers scaling to
callers.
"""

from __future__ import annotations

import io
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inputosm_spark import schemas
from inputosm_spark.sources.registry import read_landing_zone

# --- varint / zigzag (S6, F3) ------------------------------------------------


def read_varint(buf, pos: int) -> tuple[int, int]:
    """Single varint (header-walking path); packed payloads use the
    vectorized `decode_varints` instead."""
    res = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        res |= (b & 0x7F) << shift
        if b < 0x80:
            return res, pos
        shift += 7


def _decode_chunk_varints(chunks: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """ALL packed-field chunks of a blob in ONE varint pass: chunks are
    concatenated, the numpy kernel runs once over the whole buffer (one
    pass per varint BYTE POSITION, <=10, not one Python iteration per
    value), and per-chunk value counts fall out of a searchsorted over
    the terminator-byte positions (varints never straddle chunk
    boundaries — each chunk is a complete packed field). Returns
    (values_u64, count_per_chunk). Per-chunk numpy calls on ~10-element
    arrays cost more than the decode itself; this batching is the
    difference between 0.1M and >1M ways/s."""
    counts_bytes = np.array([len(c) for c in chunks], dtype=np.int64)
    a = np.frombuffer(b"".join(chunks), dtype=np.uint8)
    if a.size == 0:
        return np.zeros(0, np.uint64), np.zeros(len(chunks), np.int64)
    ends = np.flatnonzero(a < 0x80)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    vals = np.zeros(len(ends), dtype=np.uint64)
    for i in range(int(lengths.max())):
        m = lengths > i
        vals[m] |= (a[starts[m] + i].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(
            7 * i
        )
    bounds = np.cumsum(counts_bytes)
    counts = np.diff(
        np.concatenate(([0], np.searchsorted(ends, bounds, side="left")))
    )
    return vals, counts


def decode_varints(data: bytes) -> np.ndarray:
    """All varints in one packed payload (the one-chunk case of the
    blob-batched kernel)."""
    return _decode_chunk_varints([data])[0]


def unzigzag(u: np.ndarray) -> np.ndarray:
    """sint64 decode: (u >> 1) ^ -(u & 1), in int64 space."""
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -(
        (u & np.uint64(1)).astype(np.int64)
    )


def decode_packed_sint64(data: bytes, delta: bool = False) -> np.ndarray:
    s = unzigzag(decode_varints(data))
    return np.cumsum(s) if delta else s


def decode_packed_uint(data: bytes) -> np.ndarray:
    return decode_varints(data).astype(np.int64)


# --- protobuf field iterator (S5) --------------------------------------------

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5


def iter_fields(buf) -> Iterator[tuple[int, int, object]]:
    """(field_no, wire_type, value) over one protobuf message. Length-
    delimited values are memoryview slices (zero-copy)."""
    view = memoryview(buf)
    pos, end = 0, len(view)
    while pos < end:
        key, pos = read_varint(view, pos)
        fno, wt = key >> 3, key & 7
        if wt == _WT_VARINT:
            val, pos = read_varint(view, pos)
        elif wt == _WT_LEN:
            ln, pos = read_varint(view, pos)
            val = view[pos : pos + ln]
            pos += ln
        elif wt == _WT_I64:
            val = view[pos : pos + 8]
            pos += 8
        elif wt == _WT_I32:
            val = view[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield fno, wt, val


# --- blob framing (driver-side planning, S3) ----------------------------------


def _walk_blob_headers(f) -> Iterator[tuple[str | None, int, int]]:
    """(blob_type, offset, datasize) per blob of a PBF byte stream,
    reading ONLY the BlobHeaders and seeking over every Blob."""
    while True:
        raw = f.read(4)
        if len(raw) < 4:
            return
        hdr = f.read(int.from_bytes(raw, "big"))
        btype, datasize = None, None
        for fno, _, val in iter_fields(hdr):
            if fno == 1:
                btype = bytes(val).decode("utf-8")
            elif fno == 3:
                datasize = int(val)
        if datasize is None:
            raise ValueError(f"BlobHeader without datasize at {f.tell()}")
        yield btype, f.tell(), datasize
        f.seek(datasize, 1)


def plan_blobs(path: str) -> list[dict]:
    """Walk BlobHeaders only: (blob_type, offset, datasize) per blob.
    Mirrors the reference's planning scan (inputosmpbf.cpp:972-1001) —
    nothing is decompressed here."""
    with open(path, "rb") as f:
        return [
            {"blob_type": btype, "offset": offset, "datasize": datasize}
            for btype, offset, datasize in _walk_blob_headers(f)
        ]


def _iter_blob_frames(buf: bytes):
    """(blob_type, blob_bytes) frames of an in-memory PBF — the bytes
    twin of plan_blobs for sources that hand us whole-file content
    (the streaming landing zone) instead of a seekable path."""
    for btype, offset, datasize in _walk_blob_headers(io.BytesIO(buf)):
        yield btype, buf[offset : offset + datasize]


def _blob_payload(data: bytes) -> bytes:
    """Blob message -> uncompressed payload (S4).

    Codecs per fileformat.proto: 1=raw, 3=zlib, 4=lzma, 5=bzip2
    (OBSOLETE but trivially supported — both are stdlib), 6=lz4,
    7=zstd. The reference handles raw+zlib only
    (/root/reference/src/inputosmpbf.cpp:872-909); lz4/zstd are
    import-gated because those modules may not exist in the runtime —
    the error then names the missing codec instead of failing opaquely.
    """
    fields: dict[int, bytes] = {}
    for fno, _, val in iter_fields(data):
        if fno != 2:  # 2 = raw_size (advisory)
            fields[fno] = bytes(val)
    if 1 in fields:
        return fields[1]
    if 3 in fields:
        return zlib.decompress(fields[3])
    if 4 in fields:
        import lzma

        return lzma.decompress(fields[4])
    if 5 in fields:
        import bz2

        return bz2.decompress(fields[5])
    if 6 in fields:
        try:
            import lz4.frame  # type: ignore[import-not-found]
        except ImportError as e:
            raise ValueError(
                "Blob uses lz4_data but the lz4 module is unavailable"
            ) from e
        return lz4.frame.decompress(fields[6])
    if 7 in fields:
        try:
            import zstandard  # type: ignore[import-not-found]
        except ImportError as e:
            raise ValueError(
                "Blob uses zstd_data but the zstandard module is unavailable"
            ) from e
        return zstandard.ZstdDecompressor().decompress(fields[7])
    raise ValueError("Blob has no recognized payload field")


# --- PrimitiveBlock decode (executor-side; S7-S11) -----------------------------


def _info(msg, date_granularity: int) -> tuple[int, float, int]:
    """Non-dense Info: (version, ts_seconds, changeset)."""
    version, ts_s, changeset = 0, np.nan, 0
    for fno, _, val in iter_fields(msg):
        if fno == 1:
            version = val
        elif fno == 2:
            ts_s = val * date_granularity / 1000.0
        elif fno == 3:
            changeset = val
    return version, ts_s, changeset


def _offsets(counts: np.ndarray) -> np.ndarray:
    return np.concatenate(([0], np.cumsum(counts))).astype(np.int32)


def _chunks_uint(chunks: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    vals, counts = _decode_chunk_varints(chunks)
    return vals.astype(np.int64), counts


def _chunks_sint_delta(chunks: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Packed sint64 with PER-CHUNK delta reset, fully vectorized:
    global cumsum of all deltas, then each segment subtracts the cumsum
    value just before its start (segmented cumsum)."""
    u, counts = _decode_chunk_varints(chunks)
    if u.size == 0:  # every chunk empty: no refs / no members in the blob
        return np.zeros(0, np.int64), counts
    c = np.cumsum(unzigzag(u))
    starts = np.concatenate(([0], np.cumsum(counts[:-1])))
    base = np.where(starts > 0, c[starts - 1], 0)
    return c - np.repeat(base, counts), counts


def _walk_messages(
    msgs: list, varint_fields: tuple[int, ...], chunk_fields: tuple[int, ...],
) -> tuple[dict[int, np.ndarray], dict[int, list]]:
    """Sequential framing walk over same-typed messages — the ONLY
    irreducibly per-message Python in the node/way/relation path
    (protobuf length-delimited framing can't be vectorized without
    decoding). Inlined varint reads: no generator, no tuple per field.
    Varint fields land in uint64 arrays (raw wire values: callers
    unzigzag sint64 fields and view int64 ones), length-delimited fields
    as per-message byte chunks for the blob-batched numpy decode."""
    n = len(msgs)
    varint_sinks = {f: np.zeros(n, dtype=np.uint64) for f in varint_fields}
    chunk_sinks = {f: [b""] * n for f in chunk_fields}
    for i, mv in enumerate(msgs):
        pos, end = 0, len(mv)
        while pos < end:
            k = mv[pos]
            pos += 1
            if k >= 0x80:
                k &= 0x7F
                shift = 7
                while True:
                    b = mv[pos]
                    pos += 1
                    k |= (b & 0x7F) << shift
                    if b < 0x80:
                        break
                    shift += 7
            wt = k & 7
            if wt == 0:
                v = mv[pos]
                pos += 1
                if v >= 0x80:
                    v &= 0x7F
                    shift = 7
                    while True:
                        b = mv[pos]
                        pos += 1
                        v |= (b & 0x7F) << shift
                        if b < 0x80:
                            break
                        shift += 7
                arr = varint_sinks.get(k >> 3)
                if arr is not None:
                    arr[i] = v
            elif wt == 2:
                ln = mv[pos]
                pos += 1
                if ln >= 0x80:
                    ln &= 0x7F
                    shift = 7
                    while True:
                        b = mv[pos]
                        pos += 1
                        ln |= (b & 0x7F) << shift
                        if b < 0x80:
                            break
                        shift += 7
                lst = chunk_sinks.get(k >> 3)
                if lst is not None:
                    lst[i] = bytes(mv[pos : pos + ln])
                pos += ln
            elif wt == 1:
                pos += 8
            elif wt == 5:
                pos += 4
            else:
                raise ValueError(f"unsupported wire type {wt}")
    return varint_sinks, chunk_sinks


def _parse_info_batch(
    chunks: list[bytes], date_granularity: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """ALL Info messages of a blob in one numpy pass. Every Info field
    is wire-type varint (osmformat spec: version/timestamp/changeset/
    uid/user_sid/visible), so a message is strictly alternating
    (header, value) varints — decode everything once, split by parity
    per segment, scatter by field number. Falls back to the sequential
    parser if a non-varint wire type ever appears."""
    n = len(chunks)
    versions = np.zeros(n, dtype=np.int64)
    ts_s = np.full(n, np.nan)
    changesets = np.zeros(n, dtype=np.int64)
    vals, counts = _decode_chunk_varints(chunks)
    if vals.size == 0:
        return versions, ts_s, changesets
    total = int(counts.sum())
    starts = np.concatenate(([0], np.cumsum(counts[:-1])))
    pos = np.arange(total) - np.repeat(starts, counts)
    is_key = (pos & 1) == 0
    hdrs = vals[is_key]
    if np.any((hdrs & np.uint64(7)) != 0):
        for i, ch in enumerate(chunks):
            if ch:
                versions[i], ts_s[i], changesets[i] = _info(
                    ch, date_granularity
                )
        return versions, ts_s, changesets
    keys = (hdrs >> np.uint64(3)).astype(np.int64)
    fvals = vals[~is_key].astype(np.int64)
    owner = np.repeat(np.arange(n), counts)[is_key]
    m = keys == 1
    versions[owner[m]] = fvals[m]
    m = keys == 2
    ts_s[owner[m]] = fvals[m] * (date_granularity / 1000.0)
    m = keys == 3
    changesets[owner[m]] = fvals[m]
    return versions, ts_s, changesets


def _decode_messages(msgs: list, varint_fields: tuple[int, ...],
                     chunk_fields: tuple[int, ...], date_granularity: int):
    """Node/Way/Relation messages -> (varints, chunks, tags, info): the
    framing walk plus the fields all three share, keys (2), vals (3)
    and Info (4), each decoded in one blob-batched numpy pass."""
    varints, chunks = _walk_messages(
        msgs, varint_fields, (2, 3, 4) + chunk_fields
    )
    keys, tag_counts = _chunks_uint(chunks[2])
    vals, _ = _chunks_uint(chunks[3])
    info = _parse_info_batch(chunks[4], date_granularity)
    return varints, chunks, (_offsets(tag_counts), keys, vals), info


def _decode_dense(msg, date_granularity: int):
    """DenseNodes -> (id, lat, lon, tags, info) columns in PBF units,
    or None for a message without ids."""
    ids = lats = lons = versions = timestamps = changesets = None
    keys_vals = np.array([], dtype=np.int64)
    for fno, _, val in iter_fields(msg):
        if fno == 1:
            ids = decode_packed_sint64(bytes(val), delta=True)
        elif fno == 5:  # DenseInfo
            for ifno, _, ival in iter_fields(val):
                if ifno == 1:
                    versions = decode_packed_uint(bytes(ival))
                elif ifno == 2:
                    timestamps = decode_packed_sint64(bytes(ival), delta=True)
                elif ifno == 3:
                    changesets = decode_packed_sint64(bytes(ival), delta=True)
        elif fno == 8:
            lats = decode_packed_sint64(bytes(val), delta=True)
        elif fno == 9:
            lons = decode_packed_sint64(bytes(val), delta=True)
        elif fno == 10:
            keys_vals = decode_packed_uint(bytes(val))
    if ids is None:
        return None
    n = len(ids)
    # keys_vals: 0-terminated (k,v) runs, one run per node — decoded
    # fully vectorized into (offsets, key_idx, val_idx) against the
    # string table (string index 0 is reserved empty per spec, so a 0
    # is always a run terminator): zero per-node Python
    if keys_vals.size:
        zeros = np.flatnonzero(keys_vals == 0)
        starts = np.concatenate(([0], zeros[:-1] + 1))
        counts = (zeros - starts) // 2
        flat = keys_vals[keys_vals != 0]
        key_idx, val_idx = flat[0::2], flat[1::2]
    else:
        counts = np.zeros(0, dtype=np.int64)
        key_idx = val_idx = np.zeros(0, dtype=np.int64)
    counts = np.concatenate([counts, np.zeros(n - len(counts), dtype=np.int64)])
    info = (
        versions if versions is not None else np.zeros(n, dtype=np.int64),
        (timestamps.astype(np.float64) * date_granularity / 1000.0
         if timestamps is not None else np.full(n, np.nan)),
        changesets if changesets is not None else np.zeros(n, dtype=np.int64),
    )
    return ids, lats, lons, (_offsets(counts), key_idx, val_idx), info


def _blob_batches(blob: bytes) -> Iterator[pa.RecordBatch]:
    """One Blob message -> its entity batches: one per DenseNodes
    message, then one each for the blob's plain nodes, ways and
    relations. Every kind decodes columnar — packed numeric fields go
    through the numpy varint kernel and the only per-entity Python is
    the protobuf framing walk (reference read_way/read_relation,
    /root/reference/src/inputosmpbf.cpp:401-617)."""
    strings: list[str] = []
    groups = []
    granularity, date_granularity = 100, 1000
    lat_offset = lon_offset = 0
    for fno, _, val in iter_fields(_blob_payload(blob)):
        if fno == 1:
            strings = [bytes(s).decode("utf-8")
                       for sf, _, s in iter_fields(val) if sf == 1]
        elif fno == 2:
            groups.append(val)
        elif fno == 17:
            granularity = val
        elif fno == 18:
            date_granularity = val
        elif fno == 19:
            lat_offset = val
        elif fno == 20:
            lon_offset = val
    st = pa.array(strings, type=pa.string())

    def raw7(lat: np.ndarray, lon: np.ndarray) -> dict:
        # nanodegrees -> canonical 1e7 fixed point (FIXTURES.md §1)
        return {"raw_lat": (lat_offset + granularity * lat) // 100,
                "raw_lon": (lon_offset + granularity * lon) // 100}

    kinds: dict[int, list] = {1: [], 3: [], 4: []}
    for g in groups:
        for fno, _, val in iter_fields(g):
            if fno == 2:
                dense = _decode_dense(val, date_granularity)
                if dense is not None:
                    ids, lats, lons, tags, info = dense
                    yield _batch("node", st, tags, info, id=ids,
                                 **raw7(lats, lons))
            elif fno in kinds:
                kinds[fno].append(val)
    if kinds[1]:  # plain Node: sint64 id/lat/lon
        v, _, tags, info = _decode_messages(kinds[1], (1, 8, 9), (),
                                            date_granularity)
        ids, lats, lons = unzigzag(np.stack([v[1], v[8], v[9]]))
        yield _batch("node", st, tags, info, id=ids, **raw7(lats, lons))
    if kinds[3]:  # Way: int64 id, delta-coded refs (8)
        v, c, tags, info = _decode_messages(kinds[3], (1,), (8,),
                                            date_granularity)
        refs, ref_counts = _chunks_sint_delta(c[8])
        yield _batch("way", st, tags, info, id=v[1].view(np.int64),
                     node_refs=pa.ListArray.from_arrays(_offsets(ref_counts),
                                                        refs))
    if kinds[4]:  # Relation: int64 id, roles (8), memids (9), types (10)
        v, c, tags, info = _decode_messages(kinds[4], (1,), (8, 9, 10),
                                            date_granularity)
        memids, mem_counts = _chunks_sint_delta(c[9])
        roles, _ = _chunks_uint(c[8])
        types, _ = _chunks_uint(c[10])
        mem_struct = pa.StructArray.from_arrays(
            [pa.array(types, type=pa.int32()), pa.array(memids),
             st.take(roles)],
            names=["type", "ref", "role"],
        )
        yield _batch("relation", st, tags, info, id=v[1].view(np.int64),
                     members=pa.ListArray.from_arrays(_offsets(mem_counts),
                                                      mem_struct))


# --- OSMHeader blob (S12) ------------------------------------------------------

# Features this decoder implements; a file REQUIRING anything else must
# be refused, not half-read (reference read_header_block,
# /root/reference/src/inputosmpbf.cpp:762-841; feature semantics from
# the public OSM PBF spec).
SUPPORTED_FEATURES = frozenset({"OsmSchema-V0.6", "DenseNodes"})

_BBOX_FIELDS = {1: "left", 2: "right", 3: "top", 4: "bottom"}


def read_header(path: str) -> dict:
    """Decode the OSMHeader blob: bbox (nanodegrees), required/optional
    features, writing program, source, and the osmosis replication
    timestamp/sequence/base-url — the catch-up coordinates an OSC
    consumer needs (see sources/replication.py). Returns a dict with
    None/[] defaults when the file has no header blob."""
    plans = [p for p in plan_blobs(path) if p["blob_type"] == "OSMHeader"]
    if not plans:
        return _parse_header(b"")
    with open(path, "rb") as f:
        f.seek(plans[0]["offset"])
        data = f.read(plans[0]["datasize"])
    return _parse_header(_blob_payload(data))


def _parse_header(payload: bytes) -> dict:
    """HeaderBlock payload -> header dict (None/[] for absent fields)."""
    out = {
        "bbox": None,
        "required_features": [],
        "optional_features": [],
        "writing_program": None,
        "source": None,
        "replication_timestamp": None,
        "replication_sequence": None,
        "replication_base_url": None,
    }
    for fno, _, val in iter_fields(payload):
        if fno == 1:  # HeaderBBox (sint64 nanodegrees)
            out["bbox"] = {
                _BBOX_FIELDS[bf]: (bv >> 1) ^ -(bv & 1)
                for bf, _, bv in iter_fields(val)
                if bf in _BBOX_FIELDS
            }
        elif fno == 4:
            out["required_features"].append(bytes(val).decode("utf-8"))
        elif fno == 5:
            out["optional_features"].append(bytes(val).decode("utf-8"))
        elif fno == 16:
            out["writing_program"] = bytes(val).decode("utf-8")
        elif fno == 17:
            out["source"] = bytes(val).decode("utf-8")
        elif fno == 32:
            out["replication_timestamp"] = int(val)
        elif fno == 33:
            out["replication_sequence"] = int(val)
        elif fno == 34:
            out["replication_base_url"] = bytes(val).decode("utf-8")
    return out


def validate_header(header: dict) -> None:
    """Refuse files whose required_features this decoder does not
    implement (the reference fails hard on unknown required features)."""
    unsupported = set(header["required_features"]) - SUPPORTED_FEATURES
    if unsupported:
        raise ValueError(
            f"unsupported required_features: {sorted(unsupported)} "
            f"(supported: {sorted(SUPPORTED_FEATURES)})"
        )


# --- Spark surface -------------------------------------------------------------

_ENTITY_DDL = (
    "kind string, id long, raw_lat long, raw_lon long, "
    "node_refs array<long>, "
    "members array<struct<type:int,ref:long,role:string>>, "
    "tags map<string,string>, version int, ts timestamp, changeset long"
)


_PA_SCHEMA = pa.schema(
    [
        ("kind", pa.string()),
        ("id", pa.int64()),
        ("raw_lat", pa.int64()),
        ("raw_lon", pa.int64()),
        ("node_refs", pa.list_(pa.int64())),
        ("members", pa.list_(pa.struct(
            [("type", pa.int32()), ("ref", pa.int64()), ("role", pa.string())]
        ))),
        ("tags", pa.map_(pa.string(), pa.string())),
        ("version", pa.int32()),
        ("ts", pa.timestamp("us")),
        ("changeset", pa.int64()),
    ]
)


def _batch(kind: str, st: pa.Array, tags, info, **cols) -> pa.RecordBatch:
    """One columnar entity block -> Arrow batch in `_PA_SCHEMA` with
    zero pandas and zero per-row Python. `tags` is (offsets, key_idx,
    val_idx) into the string table `st`, resolved by vectorized take();
    `info` is (version, ts_s, changeset); `cols` holds the kind's own
    columns by name. A column it lacks is null, except the nested
    node_refs/members, which are empty lists: one encoding of "none"
    across the ingest paths (the OSC stream and the replication
    catch-up store [] too)."""
    offsets, key_idx, val_idx = tags
    version, ts_s, changeset = info
    n = len(cols["id"])
    ts_us = np.where(np.isnan(ts_s), 0, ts_s * 1e6).astype(np.int64)
    cols.update(
        kind=pa.array([kind] * n, type=pa.string()),
        tags=pa.MapArray.from_arrays(offsets, st.take(key_idx),
                                     st.take(val_idx)),
        version=version,
        ts=pa.array(ts_us, type=pa.timestamp("us"), mask=np.isnan(ts_s)),
        changeset=changeset,
    )
    empty = pa.array(np.zeros(n + 1, dtype=np.int32))
    for f in _PA_SCHEMA:
        if f.name not in cols and pa.types.is_list(f.type):
            cols[f.name] = pa.ListArray.from_arrays(
                empty, pa.array([], type=f.type.value_type)
            )
    return pa.RecordBatch.from_arrays(
        [
            pa.nulls(n, type=f.type) if f.name not in cols
            else cols[f.name].cast(f.type) if isinstance(cols[f.name], pa.Array)
            else pa.array(cols[f.name], type=f.type)
            for f in _PA_SCHEMA
        ],
        schema=_PA_SCHEMA,
    )


def read_pbf_entities(
    spark: SparkSession, path: str | list[str]
) -> DataFrame:
    """All entities of one or MANY .osm.pbf files as one DataFrame
    (kind-discriminated superset schema). One Spark task decodes one
    blob — the reference's work-queue granularity
    (inputosmpbf.cpp:1028-1056) — and a multi-file read (e.g. a sink's
    shard directory) is ONE plan over the union of all files' blobs,
    not N unioned subplans. mapInArrow: every entity block goes numpy ->
    Arrow directly (no pandas hop). Validates each file's header
    required_features first (S12)."""
    paths = [path] if isinstance(path, str) else list(path)
    plans = []
    for p in paths:
        file_plans = plan_blobs(p)
        if any(fp["blob_type"] == "OSMHeader" for fp in file_plans):
            validate_header(read_header(p))
        plans += [
            dict(fp, path=p) for fp in file_plans
            if fp["blob_type"] == "OSMData"
        ]
    if not plans:
        raise ValueError(f"no OSMData blobs in {paths}")
    # parallelize the blob descriptors with the slice count directly —
    # a LocalRelation + repartition(n) paid a full (if tiny) shuffle
    # stage per read just to spread a handful of descriptor rows
    n_parts = min(len(plans), spark.sparkContext.defaultParallelism)
    desc = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p["path"], p["offset"], p["datasize"]) for p in plans],
            n_parts,
        ),
        "path string, offset long, datasize long",
    )

    def decode(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            for row in batch.to_pylist():  # rows here are BLOBS, not entities
                with open(row["path"], "rb") as f:
                    f.seek(int(row["offset"]))
                    data = f.read(int(row["datasize"]))
                yield from _blob_batches(data)

    return desc.mapInArrow(decode, _ENTITY_DDL)


def input_blob_mem(data: bytes, blob_type: str = "OSMData"):
    """Decode ONE in-memory Blob message without any file: the public
    single-blob API, parity with the reference's ``input_blob_mem``
    (/root/reference/src/inputosmpbf.cpp:917-956), for callers that
    bring their own transport (message queue, object-store range read,
    replication fetch) instead of a seekable path.

    ``data`` is the raw Blob message bytes — the envelope that follows
    a BlobHeader on the wire (any fileformat.proto codec). For
    ``blob_type="OSMData"`` returns a ``pyarrow.Table`` of entities in
    the engine's kind-discriminated superset schema (same as
    read_pbf_entities rows); for ``"OSMHeader"`` returns the parsed
    header dict after required_features validation.
    """
    if blob_type == "OSMHeader":
        out = _parse_header(_blob_payload(data))
        validate_header(out)
        return out
    if blob_type != "OSMData":
        raise ValueError(f"unknown blob_type {blob_type!r}")
    return pa.Table.from_batches(list(_blob_batches(data)), schema=_PA_SCHEMA)


_STREAM_ENTITY_DDL = _ENTITY_DDL + ", source_file string"


def read_pbf_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING PBF landing zone: every ``*.pbf`` file that lands in
    ``landing_dir`` is decoded into the batch reader's entity schema
    (plus ``source_file``) as it arrives — Spark's binaryFile file
    stream handles discovery, exactly-once tracking, and backfill; the
    decode is the same columnar blob machinery as read_pbf_entities.

    Granularity caveat vs the batch path: the file stream hands each
    file's WHOLE content to one task (no per-blob fan-out within a
    file), so a landing zone should receive chunked extracts (the
    normal shape for replication drops), not one planet file. Header
    blobs are validated per file inside the task; unsupported
    required_features fail the micro-batch rather than silently
    decoding wrong.
    """
    raw = read_landing_zone(spark, landing_dir, "*.pbf", max_files_per_trigger)

    def decode(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            for row in batch.to_pylist():  # rows here are FILES
                frames = []
                for btype, frame in _iter_blob_frames(row["content"]):
                    if btype == "OSMHeader":
                        validate_header(_parse_header(_blob_payload(frame)))
                    elif btype == "OSMData":
                        frames.append(frame)
                for frame in frames:
                    for rb in _blob_batches(frame):
                        yield rb.append_column(
                            "source_file",
                            pa.array([row["path"]] * rb.num_rows, pa.string()),
                        )

    return raw.mapInArrow(decode, _STREAM_ENTITY_DDL)


def read_pbf(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """.osm.pbf -> (nodes, ways, relations) DataFrames, same schemas as
    the XML path (sources/osmxml.read_osm). The decoded superset feeds
    three filters — cached once (no cross-branch subplan sharing)."""
    ent = read_pbf_entities(spark, path).cache()
    node_cols = [f.name for f in schemas.NODES.fields]
    way_cols = [f.name for f in schemas.WAYS.fields]
    rel_cols = [f.name for f in schemas.RELATIONS.fields]
    nodes = ent.filter(F.col("kind") == "node").select(*node_cols)
    ways = ent.filter(F.col("kind") == "way").select(*way_cols)
    rels = ent.filter(F.col("kind") == "relation").select(*rel_cols)
    return nodes, ways, rels
