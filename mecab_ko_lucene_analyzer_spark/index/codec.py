"""Posting-list codec: block-wise delta + varint (I3).

The reference delegates posting compression to Lucene (FOR/varint in
Lucene's postings format); this is our from-scratch equivalent, NumPy-
vectorized so block encode/decode costs O(bytes) in C, not Python
loops.

Layout per (term, block) — block size ≤ 128 docs:

* ``doc_deltas``  : varint(first_doc, d1-d0, d2-d1, ...)
* ``tfs``         : varint(tf per doc)
* ``pos_deltas``  : varint per doc: (p0, p1-p0, ...) — concatenated in
  doc order; tf values delimit the per-doc runs.

Varint = LEB128 (7 data bits/byte, high bit = continuation).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "encode_varints",
    "decode_varints",
    "encode_varint_groups_concat",
    "encode_block",
    "decode_block",
    "decode_block_arrays",
    "decode_positions",
    "BLOCK_SIZE",
]


def encode_varint_groups_concat(values, group_sizes):
    """Encode many small varint groups in ONE vectorized pass:
    ``values`` is the concatenation of all groups' ints, ``group_sizes``
    gives each group's length. Returns the encoding as ONE buffer plus
    int64 group bounds (``len(group_sizes)+1``) — byte-identical to
    :func:`encode_varints` per group, with no per-group NumPy dispatch
    and no per-group Python allocation (the Arrow block stages build
    binary columns straight from (buffer, bounds))."""
    vals = np.asarray(values, dtype=np.uint64)
    sizes = np.asarray(group_sizes, dtype=np.int64)
    bounds = np.zeros(len(sizes) + 1, dtype=np.int64)
    if vals.size == 0:
        return b"", bounds
    nbytes = np.ones(vals.shape, dtype=np.int64)
    for k in range(1, 10):
        nbytes += vals >= np.uint64(1 << (7 * k))
    buf = encode_varints(vals)
    np.cumsum(
        np.add.reduceat(nbytes, np.concatenate([[0], np.cumsum(sizes)[:-1]]))
        if sizes.size
        else np.empty(0, dtype=np.int64),
        out=bounds[1:],
    )
    return buf, bounds


BLOCK_SIZE = 128


def encode_varints(values: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of a non-negative int array."""
    vals = np.asarray(values, dtype=np.uint64)
    if vals.size == 0:
        return b""
    # bytes needed per value: 1 + how many 7-bit thresholds it crosses
    nbytes = np.ones(vals.shape, dtype=np.int64)
    for k in range(1, 10):
        nbytes += vals >= np.uint64(1 << (7 * k))
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    starts = ends - nbytes
    out = np.zeros(total, dtype=np.uint8)
    max_nb = int(nbytes.max())
    for k in range(max_nb):
        mask = nbytes > k
        idx = starts[mask] + k
        chunk = (vals[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > k).astype(np.uint8) << 7
        out[idx] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def decode_varints(data) -> np.ndarray:
    """Vectorized LEB128 decode → uint64 array. Accepts ``bytes`` or a
    ``uint8`` ndarray (an Arrow data-buffer view — no copy)."""
    b = (
        data
        if isinstance(data, np.ndarray)
        else np.frombuffer(data, dtype=np.uint8)
    )
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = b < 128
    ends = np.flatnonzero(is_end)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # position of each byte inside its group
    group_of_byte = np.cumsum(is_end) - is_end  # group index per byte
    pos_in_group = np.arange(b.size) - starts[group_of_byte]
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (
        np.uint64(7) * pos_in_group.astype(np.uint64)
    )
    out = np.zeros(ends.size, dtype=np.uint64)
    np.add.at(out, group_of_byte, contrib)
    return out


def encode_block(
    doc_ids: np.ndarray, tfs: np.ndarray, positions_per_doc: list[np.ndarray]
) -> tuple[bytes, bytes, bytes]:
    """Encode one block (doc_ids ascending). Returns
    ``(doc_deltas, tfs, pos_deltas)`` byte strings."""
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    deltas = np.empty_like(doc_ids)
    deltas[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
    if len(positions_per_doc) > 0:
        flat = []
        for ps in positions_per_doc:
            ps = np.asarray(ps, dtype=np.uint64)
            d = np.empty_like(ps)
            if ps.size:
                d[0] = ps[0]
                np.subtract(ps[1:], ps[:-1], out=d[1:])
            flat.append(d)
        pos_bytes = encode_varints(np.concatenate(flat) if flat else np.empty(0))
    else:
        pos_bytes = b""
    return (
        encode_varints(deltas),
        encode_varints(np.asarray(tfs, dtype=np.uint64)),
        pos_bytes,
    )


def decode_block(
    doc_deltas: bytes, tfs: bytes, pos_deltas: bytes
) -> tuple[np.ndarray, np.ndarray, list[np.ndarray]]:
    """Inverse of :func:`encode_block`."""
    docs, tf, _, positions = decode_block_arrays(
        doc_deltas, tfs, pos_deltas=pos_deltas or None
    )
    return docs, tf, positions or []


def decode_positions(pos_deltas: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """One block's per-doc positions. The position deltas restart at
    every doc and ``tfs`` delimits the runs, so one segmented cumsum
    rebuilds them all: no per-doc numpy call."""
    cs = np.cumsum(decode_varints(pos_deltas).astype(np.int64))
    ends = np.cumsum(tfs)
    starts = ends - tfs
    base = np.where(starts > 0, cs[starts - 1], 0)
    return np.split(cs - np.repeat(base, tfs), ends[:-1])


def decode_block_arrays(
    doc_deltas: bytes,
    tfs: bytes = b"",
    doc_lens: bytes = b"",
    pos_deltas: bytes | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[np.ndarray] | None]:
    """The serving-side decode of one block's payload columns →
    ``(docs, tfs, doc_lens, positions)``. ``docs`` is the doc-gap
    chain's cumsum (its first delta is the absolute docID); the three
    arrays are int64, and a column passed empty decodes to an empty
    array. ``positions`` holds the per-doc position arrays when
    ``pos_deltas`` is given, else None."""
    docs = np.cumsum(decode_varints(doc_deltas).astype(np.int64))
    tf = decode_varints(tfs).astype(np.int64)
    dl = decode_varints(doc_lens).astype(np.int64)
    positions = None if pos_deltas is None else decode_positions(pos_deltas, tf)
    return docs, tf, dl, positions
