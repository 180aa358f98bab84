"""PBF binary sink (K1): distributed .osm.pbf shard writer.

The reference's binary sink writes one shard per worker thread and
concatenates (/root/reference/test/integration/export_db.cpp:104-218);
the Spark shape is one valid standalone ``.osm.pbf`` per PARTITION,
written by the task that owns it — no concat step needed because the
read side (sources/pbf.py) plans blobs per file anyway. The reference
only ever READS the wire format; this sink closes the loop so the
engine round-trips its own format (the ``pbf_roundtrip`` oracle query
drives encode -> decode -> aggregate against a pure-SQL twin).

Vectorization contract (the encode twins of pbf.py's decode kernels):
every PACKED payload — ids, coords, timestamps, changesets, versions,
way refs, member ids/types, the dense keys_vals stream — is produced
by numpy passes over whole arrays (`encode_varints` is <=10 masked
passes, exactly mirroring `decode_varints`); string tables are built
with one `pd.factorize` over the flattened Arrow buffers; way/relation
message ENVELOPES are scatter-assembled by `_interleave` (a constant
number of numpy passes per message type — zero per-entity Python).
Only per-BLOCK framing (a handful of field headers per 8k-entity
block) is plain Python.
"""

from __future__ import annotations

import os
import shutil
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from inputosm_spark.streaming.events import drain

ENTITIES_PER_BLOCK = 8000


# --- vectorized wire-format encode kernels ---------------------------------


def encode_varints(vals: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Concatenated unsigned varints; returns (bytes, per-value byte
    length) so callers can slice per-entity payloads out of one flat
    encode. <=10 masked numpy passes, no per-value Python."""
    v = np.ascontiguousarray(vals).astype(np.uint64)
    nb = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += (tmp != 0).astype(np.int64)
        tmp >>= np.uint64(7)
    offs = np.concatenate(([0], np.cumsum(nb)))
    out = np.zeros(int(offs[-1]), dtype=np.uint8)
    starts = offs[:-1]
    for j in range(10):
        mask = nb > j
        if not mask.any():
            break
        byte = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(
            np.uint8
        )
        cont = (nb[mask] - 1 > j).astype(np.uint8)
        out[starts[mask] + j] = byte | (cont << 7)
    return out.tobytes(), nb


def zigzag(vals: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zigzag, the inverse of pbf.unzigzag."""
    v = np.ascontiguousarray(vals).astype(np.int64)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def encode_packed_sint64(vals: np.ndarray, delta: bool = False) -> bytes:
    v = np.ascontiguousarray(vals).astype(np.int64)
    if delta and len(v):
        v = np.diff(v, prepend=np.int64(0))
    return encode_varints(zigzag(v))[0]


def encode_packed_uint(vals: np.ndarray) -> bytes:
    return encode_varints(np.ascontiguousarray(vals))[0]


# --- protobuf envelopes (per-field, not per-row) ----------------------------


def _vu(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _key(f: int, wt: int) -> bytes:
    return _vu((f << 3) | wt)


def _lenf(f: int, payload: bytes) -> bytes:
    return _key(f, 2) + _vu(len(payload)) + payload


def _varf(f: int, v: int) -> bytes:
    return _key(f, 0) + _vu(v)


class _StringTable:
    """Index 0 reserved as the empty string, per spec. Bulk-loaded via
    pd.factorize — one pass over the flattened key/value buffers."""

    def __init__(self) -> None:
        self.strings: list[bytes] = [b""]
        self._index: dict[bytes, int] = {b"": 0}

    def codes(self, flat: np.ndarray) -> np.ndarray:
        """Vectorized sid lookup/insert for an object array of str."""
        if len(flat) == 0:
            return np.zeros(0, dtype=np.int64)
        codes, uniques = pd.factorize(flat)
        sids = np.empty(len(uniques), dtype=np.int64)
        for i, s in enumerate(uniques):  # O(DISTINCT strings), not rows
            b = s.encode("utf-8")
            if b not in self._index:
                self._index[b] = len(self.strings)
                self.strings.append(b)
            sids[i] = self._index[b]
        return sids[codes]

    def encode(self) -> bytes:
        return b"".join(_lenf(1, s) for s in self.strings)


def _map_arrays(col: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(offsets, flat_keys, flat_values) of an Arrow MapArray chunk,
    null maps treated as empty."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    keys = np.asarray(col.keys.to_pylist(), dtype=object)
    vals = np.asarray(col.items.to_pylist(), dtype=object)
    return offsets, keys, vals


def _dense_kv_stream(st: _StringTable, tags: pa.Array, n: int) -> np.ndarray:
    """DenseNodes.keys_vals: [k1,v1,...,0] per node, built positionally
    (zeros-initialized buffer doubles as the terminators)."""
    offsets, keys, vals = _map_arrays(tags)
    npairs = np.diff(offsets)
    starts = np.concatenate(([0], np.cumsum(2 * npairs + 1)))[:-1]
    out = np.zeros(int(2 * npairs.sum() + n), dtype=np.int64)
    if npairs.sum():
        node_of_pair = np.repeat(np.arange(n), npairs)
        ordinal = np.arange(len(node_of_pair)) - offsets[:-1][node_of_pair]
        pos_k = starts[node_of_pair] + 2 * ordinal
        out[pos_k] = st.codes(keys)
        out[pos_k + 1] = st.codes(vals)
    return out


def _info_arrays(batch_df: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ver = batch_df["version"].fillna(0).to_numpy(dtype=np.int64)
    ts = pd.to_datetime(batch_df["ts"])
    us = ts.to_numpy(dtype="datetime64[us]").astype(np.int64)
    ts_s = np.where(ts.isna().to_numpy(), np.int64(0), us // 1_000_000)
    cs = batch_df["changeset"].fillna(0).to_numpy(dtype=np.int64)
    return ver, ts_s, cs


def dense_nodes_group(st: _StringTable, pdf: pd.DataFrame,
                      tags: pa.Array) -> bytes:
    """One DenseNodes PrimitiveGroup — ALL payloads vectorized."""
    n = len(pdf)
    ids = encode_packed_sint64(pdf["id"].to_numpy(dtype=np.int64), delta=True)
    ver, ts_s, cs = _info_arrays(pdf)
    dinfo = (
        _lenf(1, encode_packed_uint(ver))
        + _lenf(2, encode_packed_sint64(ts_s, delta=True))
        + _lenf(3, encode_packed_sint64(cs, delta=True))
    )
    lats = encode_packed_sint64(
        pdf["raw_lat"].to_numpy(dtype=np.int64), delta=True
    )
    lons = encode_packed_sint64(
        pdf["raw_lon"].to_numpy(dtype=np.int64), delta=True
    )
    kv = encode_packed_uint(_dense_kv_stream(st, tags, n))
    dense = (
        _lenf(1, ids) + _lenf(5, dinfo) + _lenf(8, lats) + _lenf(9, lons)
        + _lenf(10, kv)
    )
    return _lenf(2, dense)  # PrimitiveGroup.dense


def _seg_bytes(value_lens: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-entity BYTE length of a flat varint encode: entity i owns
    counts[i] consecutive values whose byte lengths are value_lens."""
    cs = np.concatenate(([0], np.cumsum(value_lens)))
    ends = np.cumsum(counts)
    starts = np.concatenate(([0], ends[:-1]))
    return cs[ends] - cs[starts]


def _interleave(
    pieces: list[tuple[np.ndarray, np.ndarray]], n: int
) -> tuple[np.ndarray, np.ndarray]:
    """SCATTER-ASSEMBLE n messages from ordered per-entity pieces —
    the fully vectorized envelope builder (no per-entity Python).

    Each piece is (flat_bytes, per_entity_byte_lens): the flat buffer
    holds every entity's fragment of that piece, contiguous in entity
    order. The output places entity i's pieces back to back:
    msg_i = piece0_i piece1_i ... . One numpy scatter per PIECE (a
    handful per message type), regardless of entity count.
    """
    lens_mat = np.stack([lens for _, lens in pieces])  # (p, n)
    out_lens = lens_mat.sum(axis=0)
    entity_starts = np.concatenate(([0], np.cumsum(out_lens)))[:-1]
    within = np.concatenate(
        (np.zeros((1, n), dtype=np.int64), np.cumsum(lens_mat, axis=0)[:-1])
    )
    out = np.empty(int(out_lens.sum()), dtype=np.uint8)
    for p, (buf, lens) in enumerate(pieces):
        dst_start = entity_starts + within[p]
        src_starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
        idx = np.repeat(dst_start - src_starts, lens) + np.arange(
            len(buf), dtype=np.int64
        )
        out[idx] = buf
    return out, out_lens


def _const_piece(byte: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    return np.full(n, byte, dtype=np.uint8), np.ones(n, dtype=np.int64)


def _lp(buf: np.ndarray, lens: np.ndarray) -> list:
    """[varint(len_i)] [payload_i] piece pair (length-delimited field
    body, after its constant key byte)."""
    lb, lblens = encode_varints(lens)
    return [(np.frombuffer(lb, dtype=np.uint8), lblens), (buf, lens)]


def _vp(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    buf, lens = encode_varints(vals)
    return np.frombuffer(buf, dtype=np.uint8), lens


def _tag_sid_flats(st: _StringTable, tags: pa.Array):
    """(key_buf, key_bytes_per_entity, val_buf, val_bytes_per_entity)
    from one flat encode of all tag sids in entity order."""
    offsets, keys, vals = _map_arrays(tags)
    npairs = np.diff(offsets)
    kbuf, klens = _vp(st.codes(keys).astype(np.uint64))
    vbuf, vlens = _vp(st.codes(vals).astype(np.uint64))
    return kbuf, _seg_bytes(klens, npairs), vbuf, _seg_bytes(vlens, npairs)


def _delta_reset(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-list delta encode over one flat buffer: each list's first
    value is a delta from 0, not from the previous list's tail."""
    d = np.diff(flat.astype(np.int64), prepend=np.int64(0))
    starts = offsets[:-1][np.diff(offsets) > 0]
    d[starts] = flat[starts]
    return d


def _info_pieces(pdf: pd.DataFrame, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Info submessages (version/timestamp/changeset varints, each with
    its constant key byte) for all entities as one flat buffer.
    Non-negative contract (as with the reference's parse side —
    pre-1970 timestamps are clamped to 0 by _info_arrays' fillna)."""
    ver, ts_s, cs = _info_arrays(pdf)
    vb, vl = _vp(ver)
    tb, tl = _vp(np.maximum(ts_s, 0))
    cb, cl = _vp(np.maximum(cs, 0))
    return _interleave(
        [_const_piece(0x08, n), (vb, vl),
         _const_piece(0x10, n), (tb, tl),
         _const_piece(0x18, n), (cb, cl)],
        n,
    )


def ways_group(st: _StringTable, pdf: pd.DataFrame,
               tags: pa.Array, refs: pa.Array) -> bytes:
    """PrimitiveGroup.ways — FULLY vectorized: packed payloads from one
    flat encode per field, envelopes scatter-assembled by _interleave
    (a constant number of numpy passes, zero per-way Python)."""
    n = len(pdf)
    if isinstance(refs, pa.ChunkedArray):
        refs = refs.combine_chunks()
    r_off = refs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    r_flat = refs.values.to_numpy(zero_copy_only=False).astype(np.int64)
    nrefs = np.diff(r_off)
    rbuf, rlens = _vp(zigzag(_delta_reset(r_flat, r_off)))
    ref_bytes = _seg_bytes(rlens, nrefs)
    kbuf, kb, vbuf, vb_ = _tag_sid_flats(st, tags)
    ibuf, ilens = _info_pieces(pdf, n)
    idbuf, idlens = _vp(pdf["id"].to_numpy(dtype=np.int64))
    msgs, msg_lens = _interleave(
        [_const_piece(0x08, n), (idbuf, idlens),
         _const_piece(0x12, n), *_lp(kbuf, kb),
         _const_piece(0x1A, n), *_lp(vbuf, vb_),
         _const_piece(0x22, n), *_lp(ibuf, ilens),
         _const_piece(0x42, n), *_lp(rbuf, ref_bytes)],
        n,
    )
    group, _ = _interleave(
        [_const_piece(0x1A, n), *_lp(msgs, msg_lens)], n
    )  # PrimitiveGroup field 3 = ways
    return group.tobytes()


def relations_group(st: _StringTable, pdf: pd.DataFrame,
                    tags: pa.Array, members: pa.Array) -> bytes:
    """PrimitiveGroup.relations — same scatter-assembled shape."""
    n = len(pdf)
    if isinstance(members, pa.ChunkedArray):
        members = members.combine_chunks()
    m_off = members.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = members.values
    nmem = np.diff(m_off)
    types = flat.field("type").to_numpy(zero_copy_only=False).astype(np.int64)
    refs = flat.field("ref").to_numpy(zero_copy_only=False).astype(np.int64)
    roles = np.asarray(flat.field("role").to_pylist(), dtype=object)
    robuf, rolens = _vp(st.codes(roles).astype(np.uint64))
    role_bytes = _seg_bytes(rolens, nmem)
    mbuf, mlens = _vp(zigzag(_delta_reset(refs, m_off)))
    mem_bytes = _seg_bytes(mlens, nmem)
    tbuf, tlens = _vp(types)
    typ_bytes = _seg_bytes(tlens, nmem)
    kbuf, kb, vbuf, vb_ = _tag_sid_flats(st, tags)
    ibuf, ilens = _info_pieces(pdf, n)
    idbuf, idlens = _vp(pdf["id"].to_numpy(dtype=np.int64))
    msgs, msg_lens = _interleave(
        [_const_piece(0x08, n), (idbuf, idlens),
         _const_piece(0x12, n), *_lp(kbuf, kb),
         _const_piece(0x1A, n), *_lp(vbuf, vb_),
         _const_piece(0x22, n), *_lp(ibuf, ilens),
         _const_piece(0x42, n), *_lp(robuf, role_bytes),
         _const_piece(0x4A, n), *_lp(mbuf, mem_bytes),
         _const_piece(0x52, n), *_lp(tbuf, typ_bytes)],
        n,
    )
    group, _ = _interleave(
        [_const_piece(0x22, n), *_lp(msgs, msg_lens)], n
    )  # PrimitiveGroup field 4 = relations
    return group.tobytes()


# --- block / blob / file assembly -------------------------------------------


def _block(groups_bytes: list[bytes], st: _StringTable) -> bytes:
    body = _lenf(1, st.encode()) + b"".join(_lenf(2, g) for g in groups_bytes)
    body += _varf(17, 100) + _varf(18, 1000)  # granularity / date_granularity
    return body


def _blob(payload: bytes, btype: str) -> bytes:
    z = zlib.compress(payload)
    b = _varf(2, len(payload)) + _lenf(3, z)
    hdr = _lenf(1, btype.encode("utf-8")) + _varf(3, len(b))
    return len(hdr).to_bytes(4, "big") + hdr + b


def _header_blob() -> bytes:
    hb = (_lenf(4, b"OsmSchema-V0.6") + _lenf(4, b"DenseNodes")
          + _lenf(16, b"inputosm_spark"))
    return _blob(hb, "OSMHeader")


def _batch_blocks(batch: pa.RecordBatch) -> Iterator[bytes]:
    """RecordBatch of the entity superset schema -> encoded
    PrimitiveBlock payloads (one block per kind per 8k chunk)."""
    tbl = pa.table(batch)
    pdf = tbl.select(
        ["kind", "id", "raw_lat", "raw_lon", "version", "ts", "changeset"]
    ).to_pandas()
    kinds = pdf["kind"].to_numpy()
    for kind, builder, nested_col in (
        ("node", None, None),
        ("way", ways_group, "node_refs"),
        ("relation", relations_group, "members"),
    ):
        idx = np.nonzero(kinds == kind)[0]
        for lo in range(0, len(idx), ENTITIES_PER_BLOCK):
            take = idx[lo : lo + ENTITIES_PER_BLOCK]
            sub = pdf.iloc[take]
            tags = tbl.column("tags").combine_chunks().take(pa.array(take))
            st = _StringTable()
            if kind == "node":
                groups = [dense_nodes_group(st, sub, tags)]
            else:
                nested = (
                    tbl.column(nested_col).combine_chunks()
                    .take(pa.array(take))
                )
                groups = [builder(st, sub, tags, nested)]
            yield _block(groups, st)


_SUMMARY_DDL = "path string, n_nodes long, n_ways long, n_relations long"


def write_pbf_shards(entities: DataFrame, out_dir: str) -> list[dict]:
    """Distributed K1 sink: each partition writes ONE standalone
    ``part-<pid>.osm.pbf`` (header blob + its blocks) straight from the
    task — the Spark twin of the reference's per-thread shard files,
    minus the concat (the reader plans per file anyway). Returns the
    per-shard summary rows. Shard names are partition-deterministic, so
    task retries overwrite rather than duplicate."""
    os.makedirs(out_dir, exist_ok=True)

    def encode_part(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.osm.pbf")
        counts = {"node": 0, "way": 0, "relation": 0}
        wrote = False
        with open(path, "wb") as f:
            f.write(_header_blob())
            for batch in it:
                wrote = True
                # O(distinct kinds) dict updates per batch, never per row
                for vc in pa.compute.value_counts(batch.column("kind")):
                    counts[vc["values"].as_py()] += vc["counts"].as_py()
                for block in _batch_blocks(batch):
                    f.write(_blob(block, "OSMData"))
        if not wrote:
            os.remove(path)
            return
        yield pa.RecordBatch.from_pydict(
            {
                "path": [path],
                "n_nodes": [counts["node"]],
                "n_ways": [counts["way"]],
                "n_relations": [counts["relation"]],
            }
        )

    return [r.asDict() for r in
            entities.mapInArrow(encode_part, _SUMMARY_DDL).collect()]


def run_pbf_sink_stream(entities, checkpoint_path: str, out_dir: str):
    """STREAMING K1: drain an unbounded entity stream into `.osm.pbf`
    shard files per micro-batch — the write-side twin of
    `pbf.read_pbf_stream`'s landing zone, closing the streaming loop
    (PBF in -> transform -> PBF out). `foreachBatch` +
    checkpointLocation give the exactly-once contract; each
    micro-batch owns `out_dir/batch=<id>/` and the writer is
    idempotent per batch id (a replayed batch overwrites its own
    directory, never a neighbor's). Shard parallelism inside a batch
    is `write_pbf_shards`' per-partition model — the reference's
    per-thread shard files (/root/reference/src/inputosmpbf.cpp
    per-thread work queues), per micro-batch. Runs until the stream
    is drained (`streaming.events.drain`) and returns the query.
    """
    def write_batch(batch, batch_id: int) -> None:
        d = os.path.join(out_dir, f"batch={batch_id}")
        shutil.rmtree(d, ignore_errors=True)
        write_pbf_shards(batch, d)

    return drain(entities, checkpoint_path, write_batch)
