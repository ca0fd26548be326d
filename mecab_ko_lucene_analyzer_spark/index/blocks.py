"""Block-compressed posting lists with block-max metadata (I3/I4), and
the one codec of the partial-block wire format.

Input: partial blocks (:data:`PARTIAL_SCHEMA`) — runs of ≤
``BLOCK_SIZE`` docs of one term over a contiguous docID range, emitted
map-side by the tokenize pass (``build.py::corpus_partials``), from
token rows (``build.py::partials_from_tokens``) or from row postings
(``build.py::partials_from_postings``). Output: ``blocks`` table::

    term string, first_doc long, n_docs int,
    doc_deltas binary, tfs binary, pos_deltas binary, doc_lens binary,
    block_max_tf int, block_max_impact double

Every producer cuts and encodes through :func:`encode_blocks` and emits
through :func:`_emit`; every consumer decodes through
:func:`decode_partials`. A partial and a block share one payload
layout (first doc absolute, then gaps; ``pos_deltas`` is the per-doc
delta+varint position bytes back to back), so re-blocking slices the
position payloads instead of re-encoding them.

``doc_lens`` (varint per doc) makes block scoring self-contained: the
exact BM25 impact is recomputable from (tf, doc_len, avgdl) without a
doc-stats lookup per candidate.

``block_max_impact`` is the block's max of the document-dependent BM25
factor, ``query/bm25.py::bm25_partial`` at idf 1.0 — so a block's
score upper bound is ``idf(term) * block_max_impact`` (the block-max
metadata of Ding & Suel 2011). The driver's bag top-k bounds each
term by its largest block bound (``query/executor.py::_bag_top_k``,
MaxScore).

Skew handling (I4): hot terms (df above a corpus-share threshold — in
Korean web text exactly the josa/particle terms the reference hardcodes,
``KoreanWordExtractor.java:62``) are salted by docID range
(``first_doc >> SALT_SHIFT``); salt ranges are doc-contiguous, so
per-salt block runs concatenate into a globally doc-ordered posting
list without any re-merge pass.

Shuffle discipline (the 100× story): the one wide exchange carries
MAP-SIDE-COMBINED partial blocks, not posting rows — see
:func:`build_blocks_from_partials`.
"""

from __future__ import annotations

import numpy as np

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .codec import BLOCK_SIZE, decode_varints, encode_varint_groups_concat

__all__ = [
    "build_blocks_from_partials",
    "decode_partials",
    "encode_blocks",
    "BLOCKS_SCHEMA",
    "PARTIAL_SCHEMA",
    "SALT_SHIFT",
]

#: 2^16 docs per salt range — one hot term contributes ~512 blocks per
#: salt, and a 10^12-doc corpus spreads a ubiquitous josa term over
#: ~15M salt keys instead of 1.
SALT_SHIFT = 16

#: a term is hot (salted) when its df reaches this share of the corpus
#: and the build's ``hot_min_df``
HOT_SHARE = 0.05

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("doc_deltas", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("pos_deltas", T.BinaryType(), False),
        T.StructField("doc_lens", T.BinaryType(), False),
        T.StructField("block_max_tf", T.IntegerType(), False),
        T.StructField("block_max_impact", T.DoubleType(), False),
    ]
)

PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("salt", T.LongType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("doc_deltas", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("pos_deltas", T.BinaryType(), False),
        T.StructField("doc_lens", T.BinaryType(), False),
    ]
)


def _hot_terms(term_stats: DataFrame, n_docs: int, min_df: int) -> list[str]:
    thresh = max(int(n_docs * HOT_SHARE), min_df)
    if thresh > n_docs:
        return []  # df <= n_docs: no term can be hot, so no job
    rows = term_stats.filter(F.col("df") >= thresh).select("term").collect()
    return [r["term"] for r in rows]


def _bin_offsets(col):
    """(data_view, row_bounds) of an Arrow binary array — the
    concatenated payload bytes and per-row int64 bounds, both zero-copy
    views into the Arrow buffers. Handles both ``binary`` (int32
    offsets) and ``large_binary`` (int64 offsets — what the stage
    inputs are upcast to so multi-GiB partitions concatenate safely)."""
    import pyarrow as pa

    off_dtype = np.int64 if col.type == pa.large_binary() else np.int32
    offs = np.frombuffer(col.buffers()[1], dtype=off_dtype)[
        col.offset : col.offset + len(col) + 1
    ].astype(np.int64)
    dbuf = col.buffers()[2]
    data = (
        np.frombuffer(dbuf, dtype=np.uint8)
        if dbuf is not None
        else np.empty(0, dtype=np.uint8)
    )
    return data[offs[0] : offs[-1]], offs - offs[0]


_INT32_MAX = 2**31 - 1


def _pa_binary(data, bounds):
    """Arrow binary array over an existing (buffer, int64 bounds) pair —
    no per-row bytes objects. Raises (instead of silently wrapping the
    int32 offsets) on payloads ≥ 2 GiB; emitters keep slices under the
    ceiling via :func:`_binary_row_slices`."""
    import pyarrow as pa

    if len(bounds) and bounds[-1] - bounds[0] > _INT32_MAX:
        raise ValueError(
            "binary payload exceeds Arrow's 2 GiB int32 offset ceiling; "
            "emit the batch in row slices (_binary_row_slices)"
        )
    if bounds[0] != 0:
        data = data[bounds[0] : bounds[-1]]
        bounds = bounds - bounds[0]
    return pa.Array.from_buffers(
        pa.binary(),
        len(bounds) - 1,
        [None, pa.py_buffer(bounds.astype(np.int32)), pa.py_buffer(data)],
    )


def _combine_large(chunks):
    """Concatenate input batches into ONE record batch safely:
    binary/string columns are upcast to their ``large_`` variants (int64
    offsets) first, so a multi-GiB partition payload cannot overflow the
    int32 offsets mid-``combine_chunks`` (ArrowInvalid) — nor can a
    still-chunked column silently desync from the numpy views of the
    numeric columns."""
    import pyarrow as pa

    tbl = pa.Table.from_batches(chunks)
    fields = [
        pa.field(
            f.name,
            pa.large_binary()
            if f.type == pa.binary()
            else (pa.large_string() if f.type == pa.string() else f.type),
            f.nullable,
        )
        for f in tbl.schema
    ]
    return tbl.cast(pa.schema(fields)).combine_chunks().to_batches()[0]


def _binary_row_slices(bounds_cols, n_rows, max_bytes=1 << 30):
    """Row ranges ``(lo, hi)`` such that every binary column's payload
    per range stays ≤ ``max_bytes`` (greedy; single full range in the
    common case). A hot-term partition at 10^12-doc scale can carry a
    multi-GiB position payload — one Arrow batch would overflow the
    int32 offsets — so emitters chunk rows by byte budget instead."""
    if n_rows == 0:
        return
    if all(b[-1] - b[0] <= max_bytes for b in bounds_cols):
        yield 0, n_rows
        return
    lo = 0
    while lo < n_rows:
        hi = n_rows
        for b in bounds_cols:
            hi = min(hi, int(np.searchsorted(b, b[lo] + max_bytes, "right")) - 1)
        hi = max(hi, lo + 1)  # never stall; an oversize single row raises
        yield lo, hi
        lo = hi


def _gather_bytes(data, src_starts, src_lens):
    """Reorder variable-width byte runs in one vectorized gather:
    output = data[src_starts[0]:+src_lens[0]] ++ data[src_starts[1]:...]."""
    total = int(src_lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint8)
    out_starts = np.zeros(len(src_lens), dtype=np.int64)
    np.cumsum(src_lens[:-1], out=out_starts[1:])
    gather = np.repeat(src_starts - out_starts, src_lens) + np.arange(
        total, dtype=np.int64
    )
    return data[gather]


def encode_blocks(
    run_start, docs, tfs, dls, pos_data, pos_lens, block_size=BLOCK_SIZE
):
    """The one cut-and-encode of the block wire format.

    Rows are postings grouped into runs — one term, or one (term, salt)
    — with docs ascending inside a run: ``run_start`` marks each run's
    first row, ``pos_data`` holds the rows' position payloads back to
    back in row order and ``pos_lens`` their byte lengths. Every run is
    cut into blocks of ``block_size`` docs (its last block shorter).
    Returns ``(starts, sizes, payload)``: each block's first row, its
    doc count, and its ``doc_deltas``, ``tfs``, ``pos_deltas`` and
    ``doc_lens`` columns as (buffer, int64 bounds) pairs. A block's
    first doc is absolute, the rest are gaps; positions are sliced, not
    re-encoded."""
    n = len(docs)
    run_id = np.cumsum(run_start) - 1
    offset = np.arange(n, dtype=np.int64) - np.flatnonzero(run_start)[run_id]
    starts = np.flatnonzero(offset % block_size == 0)
    sizes = np.diff(np.append(starts, n))
    deltas = docs.astype(np.uint64)
    deltas[1:] = (docs[1:] - docs[:-1]).astype(np.uint64)
    deltas[starts] = docs[starts].astype(np.uint64)
    pos_bounds = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(np.add.reduceat(pos_lens, starts), out=pos_bounds[1:])
    payload = [
        encode_varint_groups_concat(deltas, sizes),
        encode_varint_groups_concat(tfs, sizes),
        (pos_data, pos_bounds),
        encode_varint_groups_concat(dls, sizes),
    ]
    return starts, sizes, payload


def _emit(names, cols):
    """Arrow batches of per-block columns — Arrow arrays, numpy arrays,
    or binary (buffer, bounds) pairs — in byte-budgeted row slices
    (:func:`_binary_row_slices`): one partition's payload can exceed
    Arrow's 2 GiB int32-offset ceiling."""
    import pyarrow as pa

    binary = [c[1] for c in cols if isinstance(c, tuple)]
    for lo, hi in _binary_row_slices(binary, len(binary[0]) - 1):
        yield pa.RecordBatch.from_arrays(
            [
                _pa_binary(c[0], c[1][lo : hi + 1])
                if isinstance(c, tuple)
                else c.slice(lo, hi - lo)
                if isinstance(c, pa.Array)
                else pa.array(c[lo:hi])
                for c in cols
            ],
            names=names,
        )


def pack_partials(terms, codes, docs, tfs, dls, pos_data, pos_lens):
    """Posting rows of one contiguous docID range → unsalted partial
    batches. ``codes`` index the string array ``terms``; rows come
    doc-major (docs ascending), so a stable sort on the term codes is
    the (term, doc) order. ``pos_data``/``pos_lens`` are the rows'
    position payloads back to back and their byte lengths."""
    import pyarrow as pa

    order = np.argsort(codes, kind="stable")
    codes = codes[order]
    run_start = np.empty(len(codes), dtype=bool)
    run_start[0] = True
    run_start[1:] = codes[1:] != codes[:-1]
    pos_starts = np.zeros(len(pos_lens), dtype=np.int64)
    np.cumsum(pos_lens[:-1], out=pos_starts[1:])
    pos_lens = pos_lens[order]
    docs = docs[order]
    starts, sizes, payload = encode_blocks(
        run_start,
        docs,
        tfs[order],
        dls[order],
        _gather_bytes(pos_data, pos_starts[order], pos_lens),
        pos_lens,
    )
    yield from _emit(
        PARTIAL_SCHEMA.fieldNames(),
        [
            terms.take(pa.array(codes[starts])).cast(pa.string()),
            np.zeros(len(starts), dtype=np.int64),
            docs[starts],
            sizes.astype(np.int32),
            *payload,
        ],
    )


def decode_partials(batch):
    """The one decode of the partial/block wire format, over an Arrow
    batch of partial (or block) rows. Returns ``(row, docs, tfs, dls,
    pos_data, pos_bounds)`` per doc: the batch row it came from, its
    absolute docID (a segmented cumsum — each row's first value is
    absolute), tf, doc_len, and the position bytes with per-doc int64
    bounds. The bounds come off the varint continuation bits: a value
    ends at a byte < 128, and doc d's payload ends at the
    (cumsum tf)[d]-th value end (tf ≥ 1 per posting). ``tfs`` and the
    positions are None when the batch does not carry their columns."""
    nd = batch.column("n_docs").to_numpy(zero_copy_only=False).astype(np.int64)
    npart = len(nd)
    raw = decode_varints(_bin_offsets(batch.column("doc_deltas"))[0])
    part_starts = np.zeros(npart, dtype=np.int64)
    np.cumsum(nd[:-1], out=part_starts[1:])
    csum = np.cumsum(raw.astype(np.int64))
    prefix = np.zeros(npart, dtype=np.int64)
    prefix[1:] = csum[part_starts[1:] - 1]
    row = np.repeat(np.arange(npart), nd)
    docs = csum - prefix[row]
    dls = decode_varints(_bin_offsets(batch.column("doc_lens"))[0])
    names = batch.schema.names
    tfs = pos_data = pos_bounds = None
    if "tfs" in names:
        tfs = decode_varints(_bin_offsets(batch.column("tfs"))[0])
    if "pos_deltas" in names:
        pos_data = _bin_offsets(batch.column("pos_deltas"))[0]
        pos_bounds = np.zeros(len(docs) + 1, dtype=np.int64)
        if pos_data.size:
            val_ends = np.flatnonzero(pos_data < 128)
            pos_bounds[1:] = val_ends[np.cumsum(tfs.astype(np.int64)) - 1] + 1
    return row, docs, tfs, dls, pos_data, pos_bounds


def _pack_stage_arrow(batches):
    """Row postings ``(term, doc_id, tf, positions, doc_len)`` of one
    contiguous, doc-sorted docID range → unsalted partials. Payloads
    stay in Arrow buffers: term strings are dictionary-encoded and the
    position payloads one byte buffer sliced by offsets."""
    import pyarrow.compute as pc

    chunks = [c for c in batches if c.num_rows]
    if not chunks:
        return
    batch = _combine_large(chunks)
    terms = pc.dictionary_encode(batch.column("term"))
    pos_data, pos_bounds = _bin_offsets(batch.column("positions"))
    yield from pack_partials(
        terms.dictionary,
        terms.indices.to_numpy(),
        batch.column("doc_id").to_numpy(),
        batch.column("tf").to_numpy(),
        batch.column("doc_len").to_numpy(),
        pos_data,
        np.diff(pos_bounds),
    )


def _pack_tokens_arrow(batches):
    """Token rows ``(doc_id, term, position)`` of one contiguous docID
    range → unsalted partials: tf is a (term, doc) pair's token count,
    doc_len the doc's token count, and positions ascend within a
    posting (delta+varint encoded, the first absolute)."""
    import pyarrow.compute as pc

    chunks = [c for c in batches if c.num_rows]
    if not chunks:
        return
    batch = _combine_large(chunks)
    terms = pc.dictionary_encode(batch.column("term"))
    codes = terms.indices.to_numpy()
    docs = batch.column("doc_id").to_numpy()
    pos = batch.column("position").to_numpy().astype(np.int64)
    order = np.lexsort((pos, codes, docs))
    codes, docs, pos = codes[order], docs[order], pos[order]
    n = len(docs)
    new_doc = np.empty(n, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = docs[1:] != docs[:-1]
    new_posting = new_doc.copy()
    new_posting[1:] |= codes[1:] != codes[:-1]
    heads = np.flatnonzero(new_posting)
    tfs = np.diff(np.append(heads, n))
    doc_lens = np.diff(np.append(np.flatnonzero(new_doc), n))
    gaps = pos.copy()
    gaps[1:] -= pos[:-1]
    gaps[heads] = pos[heads]
    pos_data, pos_bounds = encode_varint_groups_concat(gaps, tfs)
    yield from pack_partials(
        terms.dictionary,
        codes[heads],
        docs[heads],
        tfs,
        doc_lens[np.cumsum(new_doc)[heads] - 1],
        np.frombuffer(pos_data, dtype=np.uint8),
        np.diff(pos_bounds),
    )


def _reblock_stage_arrow(avgdl: float):
    """Arranged partials → final blocks: decode the partition once,
    re-sort docs within each (term, salt) group (identity in the common
    case — partials arrive (term, salt, first_doc)-sorted with disjoint
    doc ranges, so the sort and the position byte gather are skipped;
    required when the scan coalesced small files and partition doc
    ranges interleave), and re-cut every ``BLOCK_SIZE`` docs within a
    group — the same boundaries as a row-level global encode."""

    def reblock(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..query.bm25 import bm25_partial

        chunks = [c for c in batches if c.num_rows]
        if not chunks:
            return
        batch = _combine_large(chunks)
        row, docs, tfs, dls, pos_data, pos_bounds = decode_partials(batch)
        p_codes = pc.dictionary_encode(batch.column("term")).indices.to_numpy()
        p_salts = batch.column("salt").to_numpy()
        grp_change = np.empty(batch.num_rows, dtype=bool)
        grp_change[0] = True
        grp_change[1:] = (p_codes[1:] != p_codes[:-1]) | (
            p_salts[1:] != p_salts[:-1]
        )
        run_start = np.ones(len(row), dtype=bool)
        run_start[1:] = row[1:] != row[:-1]
        run_start &= grp_change[row]
        pos_lens = np.diff(pos_bounds)
        if np.any((docs[1:] < docs[:-1]) & ~run_start[1:]):
            order = np.lexsort((docs, np.cumsum(run_start)))
            docs, tfs, dls, row = docs[order], tfs[order], dls[order], row[order]
            pos_lens = pos_lens[order]
            pos_data = _gather_bytes(pos_data, pos_bounds[:-1][order], pos_lens)
        starts, sizes, payload = encode_blocks(
            run_start, docs, tfs, dls, pos_data, pos_lens
        )
        impacts = bm25_partial(
            1.0, tfs.astype(np.float64), dls.astype(np.float64), avgdl
        )
        cols = [
            batch.column("term").take(pa.array(row[starts])).cast(pa.string()),
            docs[starts],
            sizes.astype(np.int32),
            *payload,
            np.maximum.reduceat(tfs, starts).astype(np.int32),
            np.maximum.reduceat(impacts, starts),
        ]
        for out in _emit(BLOCKS_SCHEMA.fieldNames(), cols):
            for i in range(0, out.num_rows, 4096):
                yield out.slice(i, 4096)

    return reblock


def _arrange(partials, term_stats, n_docs, num_partitions, hot_min_df, salt_shift):
    """The blocks exchange: salt hot terms' partials (``salt =
    first_doc >> salt_shift``), range-partition by (term, salt) — a
    group never splits, and the file layout stays globally term-sorted
    for pruned serving scans — and sort by first_doc within a group."""
    if num_partitions is None:
        num_partitions = partials.sparkSession.sparkContext.defaultParallelism * 2
    hot = _hot_terms(term_stats, n_docs, hot_min_df)
    salt = (
        F.when(
            F.col("term").isin(hot),
            F.shiftright(F.col("first_doc"), salt_shift),
        ).otherwise(F.lit(0))
        if hot
        else F.lit(0)
    )
    return (
        partials.withColumn("salt", salt.cast("long"))
        .repartitionByRange(num_partitions, "term", "salt")
        .sortWithinPartitions("term", "salt", "first_doc")
    )


def build_blocks_from_partials(
    partials: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    num_partitions: int | None = None,
    hot_min_df: int = 1000,
    salt_shift: int = SALT_SHIFT,
) -> DataFrame:
    """Partial blocks → final block postings: the map-side combine
    already happened where the partials were emitted, so this is JUST
    the wide exchange (:func:`_arrange`) + re-block.

    Skew salting happens HERE (hot dfs aren't known at emit time):
    ``salt = first_doc >> salt_shift`` per partial row of a hot term.
    Partials are doc-contiguous and pairwise disjoint, so
    first_doc-derived salt ranges stay doc-contiguous per term — the
    per-salt block runs concatenate into a globally doc-ordered posting
    list exactly as with per-doc salting (block CUT positions of a hot
    term may move where its partials straddle a salt boundary; contents
    are identical — the semantics the salted-merge equivalence test
    pins).
    """
    arranged = _arrange(
        partials, term_stats, n_docs, num_partitions, hot_min_df, salt_shift
    )
    return arranged.mapInArrow(_reblock_stage_arrow(avgdl), BLOCKS_SCHEMA)
