"""Reference implementations of the block path, kept as test oracles.

The product packs and re-blocks partial blocks only through the Arrow
stages of ``index/blocks.py``. These pandas stages and per-group codec
helpers are the earlier, independent write-up of the same wire format:
the tests require the Arrow stages to match them byte for byte.
``postings_from_tokens_reference`` is the Catalyst chain (``groupBy`` +
``collect_list`` + a positions-encoding pandas UDF + a ``doc_len``
join) that ``build.py::partials_from_tokens`` replaces.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

from mecab_ko_lucene_analyzer_spark.index.codec import decode_varints, encode_varints

# Python workers cannot import this test-side module, so its functions
# travel to them by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def varint_byte_lens(values: np.ndarray) -> np.ndarray:
    """Encoded byte width per value (1 + crossed 7-bit thresholds)."""
    vals = np.asarray(values, dtype=np.uint64)
    nbytes = np.ones(vals.shape, dtype=np.int64)
    for k in range(1, 10):
        nbytes += vals >= np.uint64(1 << (7 * k))
    return nbytes


def encode_varint_groups(values, group_sizes) -> list[bytes]:
    """One bytes object per group: ``encode_varints`` of each group's
    slice of ``values``."""
    vals = np.asarray(values, dtype=np.uint64)
    ends = np.cumsum(np.asarray(group_sizes, dtype=np.int64))
    starts = ends - np.asarray(group_sizes, dtype=np.int64)
    return [encode_varints(vals[s:e]) for s, e in zip(starts, ends)]


def encode_positions_udf():
    """array<int> sorted positions → per-doc delta+varint bytes."""

    def fn(col: pd.Series) -> pd.Series:
        out = []
        for plist in col:
            arr = np.asarray(plist, dtype=np.uint64)
            deltas = np.empty_like(arr)
            if arr.size:
                deltas[0] = arr[0]
                np.subtract(arr[1:], arr[:-1], out=deltas[1:])
            out.append(encode_varints(deltas))
        return pd.Series(out)

    return pandas_udf(fn, T.BinaryType())


def postings_from_tokens_reference(toks: DataFrame) -> DataFrame:
    """Row postings ``(term, doc_id, tf, positions, doc_len)`` of token
    rows ``(doc_id, term, position)`` through Catalyst aggregations."""
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("doc_len"))
    return (
        toks.groupBy("term", "doc_id")
        .agg(
            F.count("*").alias("tf"),
            F.sort_array(F.collect_list("position")).alias("parr"),
        )
        .withColumn("positions", encode_positions_udf()(F.col("parr")))
        .drop("parr")
        .join(dl, "doc_id")
        .select("term", "doc_id", "tf", "positions", "doc_len")
    )


def _pack_stage(hot: frozenset, salt_shift: int, block_size: int):
    """Narrow map-side combine: one input partition (a contiguous docID
    range) → partial-block rows in the block wire format, ≤
    ``block_size`` docs each."""

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        terms = pdf["term"].to_numpy()
        docs = pdf["doc_id"].to_numpy(dtype=np.int64)
        tfs = pdf["tf"].to_numpy(dtype=np.uint64)
        dls = pdf["doc_len"].to_numpy(dtype=np.uint64)
        poslists = pdf["positions"].to_numpy()
        salts = np.where(
            pdf["term"].isin(hot).to_numpy() if hot else False,
            docs >> salt_shift,
            0,
        ).astype(np.int64)
        codes = pd.factorize(pdf["term"], sort=False)[0]
        order = np.lexsort((docs, salts, codes))
        codes = codes[order]
        terms, docs, tfs, dls = terms[order], docs[order], tfs[order], dls[order]
        salts, poslists = salts[order], poslists[order]
        n = len(docs)
        run_change = np.empty(n, dtype=bool)
        run_change[0] = True
        run_change[1:] = (codes[1:] != codes[:-1]) | (salts[1:] != salts[:-1])
        run_id = np.cumsum(run_change) - 1
        run_starts = np.flatnonzero(run_change)
        offset_in_run = np.arange(n, dtype=np.int64) - run_starts[run_id]
        gstarts = np.flatnonzero(offset_in_run % block_size == 0)
        gsizes = np.diff(np.append(gstarts, n))
        deltas = docs.astype(np.uint64).copy()
        deltas[1:] = docs[1:].astype(np.uint64) - docs[:-1].astype(np.uint64)
        deltas[gstarts] = docs[gstarts].astype(np.uint64)
        dd = encode_varint_groups(deltas, gsizes)
        tt = encode_varint_groups(tfs, gsizes)
        ll = encode_varint_groups(dls, gsizes)
        pos_lens = np.fromiter((len(x) for x in poslists), np.int64, count=n)
        allpos = b"".join(poslists)
        pos_bounds = np.zeros(len(gstarts) + 1, dtype=np.int64)
        np.cumsum(np.add.reduceat(pos_lens, gstarts), out=pos_bounds[1:])
        yield pd.DataFrame(
            {
                "term": terms[gstarts],
                "salt": salts[gstarts],
                "first_doc": docs[gstarts],
                "n_docs": gsizes.astype(np.int32),
                "doc_deltas": dd,
                "tfs": tt,
                "pos_deltas": [
                    allpos[pos_bounds[i] : pos_bounds[i + 1]]
                    for i in range(len(gstarts))
                ],
                "doc_lens": ll,
            }
        )

    return pack


def _reblock_stage(avgdl: float, k1: float, b: float, block_size: int):
    """Partials → final ≤block_size blocks: batch-decode the partition,
    restore absolute docIDs with a segmented cumsum, re-sort by docID
    within each (term, salt) group, cut every ``block_size`` docs, and
    slice the position bytes by per-doc widths from
    :func:`varint_byte_lens`."""

    def reblock(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        p_terms = pdf["term"].to_numpy()
        p_salts = pdf["salt"].to_numpy(dtype=np.int64)
        p_ndocs = pdf["n_docs"].to_numpy(dtype=np.int64)
        npart = len(p_terms)
        raw_docs = decode_varints(b"".join(pdf["doc_deltas"]))
        tfs = decode_varints(b"".join(pdf["tfs"]))
        dls = decode_varints(b"".join(pdf["doc_lens"]))
        n = len(raw_docs)
        part_starts = np.zeros(npart, dtype=np.int64)
        np.cumsum(p_ndocs[:-1], out=part_starts[1:])
        csum = np.cumsum(raw_docs.astype(np.int64))
        prefix = np.zeros(npart, dtype=np.int64)
        prefix[1:] = csum[part_starts[1:] - 1]
        part_of_row = np.repeat(np.arange(npart), p_ndocs)
        docs = csum - prefix[part_of_row]
        grp_change = np.empty(npart, dtype=bool)
        grp_change[0] = True
        grp_change[1:] = (p_terms[1:] != p_terms[:-1]) | (
            p_salts[1:] != p_salts[:-1]
        )
        row_grp_change = np.zeros(n, dtype=bool)
        row_grp_change[part_starts[grp_change]] = True
        grp_id = np.cumsum(row_grp_change) - 1
        allpos = b"".join(pdf["pos_deltas"])
        pos_vals = decode_varints(allpos)
        val_widths = varint_byte_lens(pos_vals)
        doc_pos_starts = np.zeros(n, dtype=np.int64)
        np.cumsum(tfs.astype(np.int64)[:-1], out=doc_pos_starts[1:])
        per_doc_bytes = np.add.reduceat(val_widths, doc_pos_starts)
        doc_byte_starts = np.zeros(n, dtype=np.int64)
        np.cumsum(per_doc_bytes[:-1], out=doc_byte_starts[1:])
        order = np.lexsort((docs, grp_id))
        docs, tfs, dls = docs[order], tfs[order], dls[order]
        terms_by_row = np.repeat(p_terms, p_ndocs)[order]
        src_starts = doc_byte_starts[order]
        src_lens = per_doc_bytes[order]
        total_pos_bytes = int(src_lens.sum())
        out_starts = np.zeros(n, dtype=np.int64)
        np.cumsum(src_lens[:-1], out=out_starts[1:])
        gather = np.repeat(src_starts - out_starts, src_lens) + np.arange(
            total_pos_bytes, dtype=np.int64
        )
        allpos_sorted = np.frombuffer(allpos, dtype=np.uint8)[gather].tobytes()
        grp_row_starts = np.flatnonzero(row_grp_change)
        offset_in_grp = np.arange(n, dtype=np.int64) - grp_row_starts[grp_id]
        bstarts = np.flatnonzero(offset_in_grp % block_size == 0)
        bsizes = np.diff(np.append(bstarts, n))
        deltas = docs.astype(np.uint64).copy()
        deltas[1:] = (docs[1:] - docs[:-1]).astype(np.uint64)
        deltas[bstarts] = docs[bstarts].astype(np.uint64)
        dd = encode_varint_groups(deltas, bsizes)
        tt = encode_varint_groups(tfs, bsizes)
        ll = encode_varint_groups(dls, bsizes)
        pos_bounds = np.zeros(len(bstarts) + 1, dtype=np.int64)
        np.cumsum(np.add.reduceat(src_lens, bstarts), out=pos_bounds[1:])
        tfs_f = tfs.astype(np.float64)
        impacts = tfs_f / (tfs_f + k1 * (1 - b + b * dls.astype(np.float64) / avgdl))
        out = pd.DataFrame(
            {
                "term": terms_by_row[bstarts],
                "first_doc": docs[bstarts],
                "n_docs": bsizes.astype(np.int32),
                "doc_deltas": dd,
                "tfs": tt,
                "pos_deltas": [
                    allpos_sorted[pos_bounds[i] : pos_bounds[i + 1]]
                    for i in range(len(bstarts))
                ],
                "doc_lens": ll,
                "block_max_tf": np.maximum.reduceat(tfs, bstarts).astype(np.int32),
                "block_max_impact": np.maximum.reduceat(impacts, bstarts),
            }
        )
        for i in range(0, len(out), 4096):
            yield out.iloc[i : i + 4096]

    return reblock
