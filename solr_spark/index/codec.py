"""Posting-block compression: delta-coded docID gaps + LEB128 varint.

This is the public Lucene posting-list design (delta-coded monotone docIDs,
variable-byte/FOR packing — see e.g. the Lucene postings format docs; the
reference selects codecs per field via Solr ``core/SchemaCodecFactory.java:
102-119``) re-derived from first principles for an Arrow/numpy world:
postings live as ``BinaryType`` cells inside Parquet rows, one cell per
(term, salt, block).

Everything here is numpy-vectorized — the encode/decode loops iterate over
BYTE POSITIONS (≤10) not over values, so cost is O(10) numpy kernels per
block regardless of block length. No per-row Python (input-hint mandate).

Parquet then layers dictionary/zstd on top of the varint bytes, mirroring
how Lucene's codec output still benefits from filesystem compression.

:func:`decode_blocks` is the ONE reader of the block format: every query
decoder (BM25 scoring, phrase/proximity, payload) and the build reducer's
run flatten call it on a whole Arrow batch of block rows.
:func:`encode_blocks` is its inverse, shared by the block encoder and the
map-side run packer.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

_MAX_VARINT_BYTES = 10  # 64 bits / 7


def _varint_sizes(values: np.ndarray) -> np.ndarray:
    """Bytes needed per value (LEB128): max(1, ceil(bit_length/7))."""
    v = values.astype(np.uint64, copy=False)
    # bit length via comparisons (vectorized ladder, 10 steps max)
    sizes = np.ones(len(v), dtype=np.int64)
    threshold = np.uint64(1 << 7)
    for n in range(2, _MAX_VARINT_BYTES + 1):
        mask = v >= threshold
        if not mask.any():
            break
        sizes[mask] = n
        if n < _MAX_VARINT_BYTES:
            threshold = np.uint64(1) << np.uint64(7 * n)
    return sizes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array → bytes (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    if len(v) == 0:
        return b""
    sizes = _varint_sizes(v)
    offsets = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    out = np.zeros(int(sizes.sum()), dtype=np.uint8)
    max_size = int(sizes.max())
    for j in range(max_size):
        mask = sizes > j
        byte = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (sizes[mask] > j + 1).astype(np.uint8) << 7
        out[offsets[mask] + j] = byte.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    terminal = (b & 0x80) == 0
    n_values = int(terminal.sum())
    # group index of each byte: 0-based id of the value it belongs to
    group = np.zeros(len(b), dtype=np.int64)
    group[1:] = np.cumsum(terminal)[:-1]
    # position of each byte within its group
    starts = np.zeros(n_values, dtype=np.int64)
    starts[1:] = np.flatnonzero(terminal)[:-1] + 1
    pos = np.arange(len(b), dtype=np.int64) - starts[group]
    vals = np.zeros(n_values, dtype=np.uint64)
    payload = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    np.add.at(vals, group, payload)
    return vals


def delta_varint_encode(sorted_values: np.ndarray) -> bytes:
    """Delta-code a strictly-increasing int array, then varint-pack.

    First element is stored absolute; the rest as gaps (Lucene docID-gap
    layout). Caller guarantees monotonicity (block build sorts by doc_id).
    """
    v = np.asarray(sorted_values, dtype=np.uint64)
    if len(v) == 0:
        return b""
    deltas = np.empty(len(v), dtype=np.uint64)
    deltas[0] = v[0]
    np.subtract(v[1:], v[:-1], out=deltas[1:])
    return varint_encode(deltas)


def delta_varint_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`delta_varint_encode`."""
    deltas = varint_decode(buf)
    if len(deltas) == 0:
        return deltas
    return np.cumsum(deltas, dtype=np.uint64)


def positions_encode(flat: np.ndarray, lens: np.ndarray) -> bytes:
    """Encode concatenated per-doc position lists (Lucene ``.prx``-style).

    ``flat`` = positions of doc0 ++ doc1 ++ …, each run ascending;
    ``lens`` = run lengths (the tf array — the same array the block
    already stores, so no extra length prefix is needed). Each run is
    delta-coded independently (first position absolute), then the whole
    stream is varint-packed. Fully vectorized (segmented delta).
    """
    flat = np.asarray(flat, dtype=np.uint64)
    lens = np.asarray(lens, dtype=np.int64)
    if len(flat) == 0:
        return b""
    deltas = np.empty(len(flat), dtype=np.uint64)
    deltas[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=deltas[1:])
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    starts = starts[lens > 0]
    deltas[starts] = flat[starts]  # run starts are absolute
    return varint_encode(deltas)


def positions_decode(buf: bytes, lens: np.ndarray) -> np.ndarray:
    """Inverse of :func:`positions_encode` → the flat position array
    (segmented cumsum; split by the caller with ``lens``)."""
    deltas = varint_decode(buf)
    if len(deltas) == 0:
        return deltas
    lens = np.asarray(lens, dtype=np.int64)
    total = np.cumsum(deltas, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    starts = starts[lens > 0]
    # subtract, from every element of run g, the running total just
    # before the run (the absolute first element already includes it)
    base = np.zeros(len(deltas), dtype=np.uint64)
    base[starts[1:]] = total[starts[1:] - 1]
    np.maximum.accumulate(base, out=base)
    return total - base


def varint_encode_segmented(
    values: np.ndarray, seg_starts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """LEB128-encode ``values`` in ONE vectorized pass and return
    ``(buffer, byte_offsets)`` where ``byte_offsets[i]:byte_offsets[i+1]``
    frames segment i (segments begin at value indexes ``seg_starts``).

    Byte-identical to concatenating per-segment :func:`varint_encode`
    calls (LEB128 is per-value independent) — this is the batch form the
    block encoder uses to replace tens of thousands of tiny per-block
    numpy calls with one pass over the whole Arrow batch.
    """
    v = np.asarray(values, dtype=np.uint64)
    seg_starts = np.asarray(seg_starts, dtype=np.int64)
    if len(v) == 0:
        return b"", np.zeros(len(seg_starts) + 1, dtype=np.int64)
    sizes = _varint_sizes(v)
    ends = np.cumsum(sizes)
    offsets = ends - sizes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    max_size = int(sizes.max())
    for j in range(max_size):
        mask = sizes > j
        byte = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (sizes[mask] > j + 1).astype(np.uint8) << 7
        out[offsets[mask] + j] = byte.astype(np.uint8) | cont
    seg_offs = np.empty(len(seg_starts) + 1, dtype=np.int64)
    seg_offs[:-1] = offsets[seg_starts]
    seg_offs[-1] = int(ends[-1])
    return out.tobytes(), seg_offs


def _binary_cells_concat(col) -> np.ndarray:
    """Concatenated bytes of an Arrow binary column, in row order —
    zero-copy: for a single-chunk binary array the data buffer IS the
    row-order concatenation; slices are handled via the offsets buffer."""
    import pyarrow as pa

    arr = col.combine_chunks() if hasattr(col, "num_chunks") else col
    if isinstance(arr, pa.ChunkedArray):
        if arr.num_chunks == 0:
            return np.empty(0, dtype=np.uint8)
        arr = arr.chunk(0)
    if len(arr) == 0:
        return np.empty(0, dtype=np.uint8)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    return np.frombuffer(arr.buffers()[2], dtype=np.uint8)[offs[0] : offs[-1]]


class Postings(NamedTuple):
    """Decoded posting streams of a batch of blocks, in row order.
    ``pos`` / ``payload`` are flat per-occurrence arrays (doc runs framed
    by ``tf``), None unless their stream was asked for."""

    doc_id: np.ndarray
    tf: np.ndarray
    dl: np.ndarray
    pos: np.ndarray | None = None
    payload: np.ndarray | None = None


def decode_blocks(n_docs, doc_ids_enc, tfs_enc, dls_enc, pos_enc=None, payloads_enc=None) -> Postings:
    """Decode a whole batch of block rows in one pass per stream.

    Arguments are Arrow columns of the batch: ``n_docs`` frames the
    blocks, the ``*_enc`` cells are the block's varint streams. LEB128 is
    self-framing, so each stream's cells concatenate zero-copy and decode
    at once; docIDs restart absolute at every block, which is exactly the
    per-run reset of :func:`positions_decode` with ``n_docs`` as the run
    lengths. Position and payload runs are framed by the decoded tf
    array. All outputs are int64. The build reducer's posting runs use
    the same framing (run length, doc/tf/dl/pos/payload streams) and
    decode here too."""
    n = np.asarray(n_docs, dtype=np.int64)
    tf = varint_decode(_binary_cells_concat(tfs_enc)).astype(np.int64)
    out = Postings(
        positions_decode(_binary_cells_concat(doc_ids_enc), n).astype(np.int64),
        tf,
        varint_decode(_binary_cells_concat(dls_enc)).astype(np.int64),
    )
    if pos_enc is not None:
        out = out._replace(
            pos=positions_decode(_binary_cells_concat(pos_enc), tf).astype(np.int64)
        )
    if payloads_enc is not None:
        if payloads_enc.null_count:
            raise ValueError("index built without payloads; rebuild with with_payloads=True")
        out = out._replace(
            payload=varint_decode(_binary_cells_concat(payloads_enc)).astype(np.int64)
        )
    return out


def encode_blocks(
    starts, doc_id, tf, dl, pos=None, payload=None
) -> list[tuple[bytes, np.ndarray] | None]:
    """Inverse of :func:`decode_blocks`: encode posting rows framed into
    blocks (or runs) that begin at row indexes ``starts``, ONE
    :func:`varint_encode_segmented` pass per stream. DocIDs are gaps that
    restart absolute at every block; position runs restart absolute at
    every doc. Returns ``(buffer, byte_offsets)`` per stream, in the
    order doc_id, tf, dl, pos, payload (None for a stream not given):
    block i's cell is ``buffer[byte_offsets[i]:byte_offsets[i + 1]]``."""
    starts = np.asarray(starts, dtype=np.int64)
    tf = np.asarray(tf, dtype=np.int64)
    gaps = np.diff(doc_id, prepend=0)
    gaps[starts] = doc_id[starts]
    out = [varint_encode_segmented(v, starts) for v in (gaps, tf, dl)]
    occ_row_starts = np.cumsum(tf) - tf  # first occurrence of each row
    pgaps = None
    if pos is not None:
        pgaps = np.diff(pos, prepend=0)
        pgaps[occ_row_starts] = pos[occ_row_starts]
    for v in (pgaps, payload):
        out.append(None if v is None else varint_encode_segmented(v, occ_row_starts[starts]))
    return out
