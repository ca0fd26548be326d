"""Inverted-index construction (I1–I5) — the stage the reference hands
to Lucene (``DanawaBulkTextIndexer.java:106`` → ES shard indexing); here
it is a native Spark plan.

Plan discipline (the part that must survive 100×):

* tokenization (the expensive Arrow UDF) happens **exactly once**: every
  derived table (term/doc/corpus stats) is computed *from the postings
  relation*, never from a second scan of the corpus. ``doc_len`` is
  ``sum(tf)`` over a doc's postings — identical to the token count.
* the corpus is pruned to ``(url, text)`` before the docID range
  shuffle, so page ``html`` bytes never cross the wire.
* one wide exchange builds postings (``groupBy(term, doc_id)`` with
  map-side partial aggregation); stats reuse that output.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.udfs import tokens_table
from .docids import assign_doc_ids

__all__ = [
    "InvertedIndex",
    "build_index",
    "build_and_write",
    "load_index",
    "corpus_partials",
    "postings_from_partials",
]

K1 = 1.2
B = 0.75


def _rows_stable_across_jobs(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan is a deterministic scan —
    file/local relations under projections and filters only. Such plans
    enumerate the same rows in the same per-partition order in every
    job (file-split planning depends on file sizes + conf; local rows
    are literals), which is what lets the unordered docID path run its
    three passes (count, text, url) as independent jobs. Anything with
    an upstream shuffle, join, aggregate, generator, or sample can
    reorder rows between jobs — callers must materialize once
    instead."""
    try:
        return _stable_plan(df._jdf.queryExecution().optimizedPlan())
    except Exception:
        return False


#: deterministic leaf scans (file relations enumerate rows from
#: file-split planning; local relations are literals). LogicalRDD is
#: deliberately ABSENT: it can wrap any rdd — conservatively unstable.
_STABLE_LEAVES = frozenset({"LogicalRelation", "LocalRelation", "Relation"})


def _stable_plan(jplan) -> bool:
    """Tree walk of a (java) logical plan via py4j: stable iff every
    node is a deterministic scan leaf, a cache (``InMemoryRelation`` is
    a Catalyst LEAF — one shared materialization feeds every pass, so
    nothing beneath it re-executes), or a Project/Filter whose every
    expression reports Catalyst-``deterministic``. The expression check
    is NOT skippable above a cache: ``cached.filter(rand() < p)``
    re-evaluates the filter to a different row set per job even though
    the cache itself is stable. Fail closed on any py4j error."""
    name = jplan.nodeName()
    if name == "InMemoryRelation" or name in _STABLE_LEAVES:
        return True
    if name not in ("Project", "Filter"):
        return False
    exprs = jplan.expressions()
    for i in range(exprs.size()):
        if not exprs.apply(i).deterministic():
            return False
    kids = jplan.children()
    return all(_stable_plan(kids.apply(i)) for i in range(kids.size()))


def _docid_partitions(pages, lang_filter, num_partitions, order):
    """Shared docID scaffold for the posting/partial emitters:
    prune → (optionally) canonical-order shuffle → per-partition row
    counts → docID base offsets. Returns ``(text_parts, map_parts,
    offsets, n_docs)``.

    For ``order="input"`` the two passes are separate pruned frames:
    mapInPandas/mapInArrow carry EVERY input column across Arrow, so
    the tokenize pass never sees ``url`` and the doc_map pass never
    sees ``text`` (~95% of the scan bytes). File-split planning depends
    on file sizes + conf only — identical for both frames — so _pid and
    per-partition row order agree. That identity only holds for
    deterministic scans: an input with an upstream shuffle/aggregate
    could enumerate rows differently per job and silently mismatch
    doc IDs between passes — those inputs are materialized ONCE and
    all passes read the one cache (column pruning still applies
    against InMemoryRelation)."""
    from pyspark import StorageLevel

    spark = pages.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    if lang_filter is not None:
        pages = pages.filter(F.col("lang") == lang_filter)
    pruned = pages.select("url", "text")
    if order == "url":
        parts = (
            pruned.repartitionByRange(num_partitions, "url")
            .sortWithinPartitions("url")
            .withColumn("_pid", F.spark_partition_id())
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        text_parts = map_parts = parts  # both passes hit the one cache
    else:
        if not _rows_stable_across_jobs(pruned):
            pruned = pruned.persist(StorageLevel.MEMORY_AND_DISK)
        parts = pruned.withColumn("_pid", F.spark_partition_id())
        text_parts = pruned.select("text").withColumn("_pid", F.spark_partition_id())
        map_parts = pruned.select("url").withColumn("_pid", F.spark_partition_id())
    counts = {
        r["_pid"]: r["cnt"]
        for r in parts.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return text_parts, map_parts, offsets, acc


def _doc_map_df(map_parts, offsets):
    """``(doc_id, url)`` resolution table from the url-pruned pass."""
    import pandas as pd
    import pyspark.sql.types as T

    map_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("url", T.StringType(), False),
        ]
    )

    def emit_map(batches):
        seen = 0
        base = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if base is None:
                base = offsets[int(pdf["_pid"].iloc[0])]
            ids = range(base + seen, base + seen + len(pdf))
            seen += len(pdf)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "url": pdf["url"].values}
            )

    return map_parts.mapInPandas(emit_map, map_schema)


def corpus_postings(
    pages: DataFrame,
    lang_filter: str | None = "ko",
    mode: str = "standard",
    compound_noun_min_length: int = 3,
    num_partitions: int | None = None,
    order: str = "input",
):
    """Corpus → ``(postings, doc_map)`` with ZERO token-level shuffle.

    A document's tokens never leave their partition, so the
    ``(term, doc_id)`` aggregation is partition-local by construction —
    the emitter aggregates tf/positions per doc in Python and emits
    posting rows directly. The only wide exchange in the whole index
    build is the salted term repartition of the block stage (I4),
    exactly the shuffle the format needs.

    docID order (both dense + deterministic, I1):

    * ``order="input"`` (default): docID = global rank in (input split,
      row) order. For an immutable table snapshot the file listing and
      row order are stable, so ids are reproducible across runs/retries
      — and the count pass is a *narrow* job: at 10^12-doc scale no
      byte of the corpus ever crosses the network before the term
      shuffle.
    * ``order="url"``: docID = global rank of ``url`` (canonical order,
      partition-count independent) via one range shuffle of the pruned
      corpus, persisted so both passes share it.

    Returns ``(postings, doc_map, n_docs, counters)`` — the doc count
    falls out of the docID offset pass, and ``counters`` is a pair of
    Spark accumulators ``(total_tokens, postings_rows)`` updated inside
    the tokenize ``mapInPandas``. Accumulator updates in a
    TRANSFORMATION can replay under task retries / speculation, so
    these are informational lineage counters only — anything that feeds
    scoring (avgdl → block_max_impact → BM25) is derived retry-exactly
    from the written doc_stats via ``Observation`` in the stats stage.
    """
    import pandas as pd
    import pyspark.sql.types as T
    from pyspark import StorageLevel

    from ..analysis.tokenizer import (
        get_lattice_provider,
        index_token_stream,
        tokenize,
    )

    spark = pages.sparkSession
    text_parts, map_parts, offsets, acc = _docid_partitions(
        pages, lang_filter, num_partitions, order
    )

    postings_schema = T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("tf", T.IntegerType(), False),
            # per-doc positions as delta+varint bytes: ~2 bytes/posting
            # through the term shuffle instead of a 12+ byte array slot,
            # and block encoding becomes pure byte concatenation
            T.StructField("positions", T.BinaryType(), False),
            T.StructField("doc_len", T.IntegerType(), False),
        ]
    )

    acc_tokens = spark.sparkContext.accumulator(0)
    acc_postings = spark.sparkContext.accumulator(0)

    def emit_postings(batches):
        from .codec import encode_varint_groups

        provider = get_lattice_provider()
        seen = 0
        base = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if base is None:
                base = offsets[int(pdf["_pid"].iloc[0])]
            terms: list[str] = []
            doc_ids: list[int] = []
            tfs: list[int] = []
            doc_lens: list[int] = []
            flat_deltas: list[int] = []  # all position deltas, batch-wide
            for off, txt in enumerate(pdf["text"]):
                d = base + seen + off
                # flat cached stream — no per-occurrence Pos objects
                # (the build is allocator-bandwidth-bound without this)
                t_terms, t_incrs = index_token_stream(
                    txt or "", mode, compound_noun_min_length, provider
                )
                per_term: dict[str, list[int]] = {}
                position = -1
                for term_s, inc in zip(t_terms, t_incrs):
                    position += inc
                    per_term.setdefault(term_s, []).append(position)
                dl = len(t_terms)
                for term, plist in per_term.items():
                    terms.append(term)
                    doc_ids.append(d)
                    tfs.append(len(plist))
                    doc_lens.append(dl)
                    prev = 0
                    for q in plist:
                        flat_deltas.append(q - prev)
                        prev = q
            # ONE vectorized varint pass for the whole batch
            positions = encode_varint_groups(flat_deltas, tfs)
            seen += len(pdf)
            acc_tokens.add(len(flat_deltas))
            acc_postings.add(len(terms))
            yield pd.DataFrame(
                {
                    "term": terms,
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "tf": pd.Series(tfs, dtype="int32"),
                    "positions": positions,
                    "doc_len": pd.Series(doc_lens, dtype="int32"),
                }
            )

    return (
        text_parts.mapInPandas(emit_postings, postings_schema),
        _doc_map_df(map_parts, offsets),
        acc,
        (acc_tokens, acc_postings),
    )


def corpus_partials(
    pages: DataFrame,
    lang_filter: str | None = "ko",
    mode: str = "standard",
    compound_noun_min_length: int = 3,
    num_partitions: int | None = None,
    order: str = "input",
    block_size: int | None = None,
):
    """Corpus → ``(partials, doc_map)`` — the FUSED build path: the
    tokenize pass emits partial-block rows (the compressed map-side-
    combined form, :data:`..index.blocks.PARTIAL_SCHEMA`) directly, so
    the ~35× larger row-postings relation never crosses the Python↔JVM
    boundary and is never materialized. This is the 100×-scale shape:
    the only thing a build ever writes or shuffles is ≈ the compressed
    index size. Row postings, term/doc stats are all DERIVABLE from
    partials (:func:`postings_from_partials`, :func:`_stats_from_partials`).

    Salting is NOT applied here (hot-term dfs aren't known until the
    stats stage); the blocks stage assigns ``salt = first_doc >>
    SALT_SHIFT`` per partial row for hot terms — partials are
    doc-contiguous and disjoint, so first_doc-derived salt ranges
    remain doc-contiguous and the salted groups concatenate without a
    re-merge, exactly as with per-doc salting.

    Same docID determinism and counters as :func:`corpus_postings`.
    """
    import numpy as np

    from ..analysis.tokenizer import get_lattice_provider, index_token_stream
    from .blocks import PARTIAL_SCHEMA
    from .codec import BLOCK_SIZE as _DEFAULT_BS

    bs = block_size or _DEFAULT_BS
    spark = pages.sparkSession
    text_parts, map_parts, offsets, acc = _docid_partitions(
        pages, lang_filter, num_partitions, order
    )
    acc_tokens = spark.sparkContext.accumulator(0)
    acc_postings = spark.sparkContext.accumulator(0)

    def emit_partials(batches):
        import pyarrow as pa

        from .blocks import _gather_bytes, _pa_binary
        from .codec import encode_varint_groups_concat

        provider = get_lattice_provider()
        seen = 0
        base = None
        code_of: dict[str, int] = {}
        uniques: list[str] = []
        codes_p, docs_p, tfs_p, dls_p, lens_p, pos_bufs = [], [], [], [], [], []
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            if base is None:
                base = offsets[batch.column("_pid")[0].as_py()]
            texts = batch.column("text").to_pylist()
            b_codes: list[int] = []
            b_docs: list[int] = []
            b_tfs: list[int] = []
            b_dls: list[int] = []
            flat_deltas: list[int] = []
            for off, txt in enumerate(texts):
                d = base + seen + off
                t_terms, t_incrs = index_token_stream(
                    txt or "", mode, compound_noun_min_length, provider
                )
                per_term: dict[str, list[int]] = {}
                position = -1
                for term_s, inc in zip(t_terms, t_incrs):
                    position += inc
                    per_term.setdefault(term_s, []).append(position)
                dl = len(t_terms)
                for term, plist in per_term.items():
                    code = code_of.get(term)
                    if code is None:
                        code = code_of[term] = len(uniques)
                        uniques.append(term)
                    b_codes.append(code)
                    b_docs.append(d)
                    b_tfs.append(len(plist))
                    b_dls.append(dl)
                    prev = 0
                    for q in plist:
                        flat_deltas.append(q - prev)
                        prev = q
            seen += nrows
            acc_tokens.add(len(flat_deltas))
            acc_postings.add(len(b_codes))
            if b_codes:
                # positions varint-encoded per batch (ONE vectorized
                # pass); byte geometry kept for the final gather
                buf, bounds = encode_varint_groups_concat(flat_deltas, b_tfs)
                pos_bufs.append(buf)
                lens_p.append(np.diff(bounds))
                codes_p.append(np.asarray(b_codes, dtype=np.int64))
                docs_p.append(np.asarray(b_docs, dtype=np.int64))
                tfs_p.append(np.asarray(b_tfs, dtype=np.uint64))
                dls_p.append(np.asarray(b_dls, dtype=np.uint64))
        if not codes_p:
            return
        codes = np.concatenate(codes_p)
        docs = np.concatenate(docs_p)
        tfs = np.concatenate(tfs_p)
        dls = np.concatenate(dls_p)
        pos_lens = np.concatenate(lens_p)
        pos_data = np.frombuffer(b"".join(pos_bufs), dtype=np.uint8)
        n = len(codes)
        # docIDs are emitted ascending (base + running row offset), so a
        # stable sort on term codes IS the (term, doc) lexsort
        order = np.argsort(codes, kind="stable")
        codes_s, docs_s = codes[order], docs[order]
        tfs_s, dls_s = tfs[order], dls[order]
        run_change = np.empty(n, dtype=bool)
        run_change[0] = True
        run_change[1:] = codes_s[1:] != codes_s[:-1]
        run_starts = np.flatnonzero(run_change)
        run_id = np.cumsum(run_change) - 1
        offset_in_run = np.arange(n, dtype=np.int64) - run_starts[run_id]
        gstarts = np.flatnonzero(offset_in_run % bs == 0)
        gsizes = np.diff(np.append(gstarts, n))
        deltas = docs_s.astype(np.uint64).copy()
        deltas[1:] = (docs_s[1:] - docs_s[:-1]).astype(np.uint64)
        deltas[gstarts] = docs_s[gstarts].astype(np.uint64)
        dd, dd_b = encode_varint_groups_concat(deltas, gsizes)
        tt, tt_b = encode_varint_groups_concat(tfs_s, gsizes)
        ll, ll_b = encode_varint_groups_concat(dls_s, gsizes)
        pos_starts = np.zeros(n, dtype=np.int64)
        np.cumsum(pos_lens[:-1], out=pos_starts[1:])
        src_lens = pos_lens[order]
        allpos = _gather_bytes(pos_data, pos_starts[order], src_lens)
        pos_b = np.zeros(len(gstarts) + 1, dtype=np.int64)
        np.cumsum(np.add.reduceat(src_lens, gstarts), out=pos_b[1:])
        uniq_arr = pa.array(uniques, type=pa.string())
        names = [f.name for f in PARTIAL_SCHEMA.fields]
        # byte-budgeted row slices, same as the blocks-stage emitters:
        # one tokenize partition's concatenated payload can exceed
        # Arrow's 2 GiB int32-offset ceiling with a raised
        # maxPartitionBytes override
        from .blocks import _binary_row_slices

        for lo, hi in _binary_row_slices(
            (dd_b, tt_b, pos_b, ll_b), len(gstarts)
        ):
            yield pa.RecordBatch.from_arrays(
                [
                    uniq_arr.take(pa.array(codes_s[gstarts][lo:hi])),
                    pa.array(np.zeros(hi - lo, dtype=np.int64)),
                    pa.array(docs_s[gstarts][lo:hi]),
                    pa.array(gsizes[lo:hi].astype(np.int32)),
                    _pa_binary(dd, dd_b[lo : hi + 1]),
                    _pa_binary(tt, tt_b[lo : hi + 1]),
                    _pa_binary(allpos, pos_b[lo : hi + 1]),
                    _pa_binary(ll, ll_b[lo : hi + 1]),
                ],
                names=names,
            )

    return (
        text_parts.mapInArrow(emit_partials, PARTIAL_SCHEMA),
        _doc_map_df(map_parts, offsets),
        acc,
        (acc_tokens, acc_postings),
    )


def postings_from_partials(partials: DataFrame) -> DataFrame:
    """Row-postings VIEW decoded from partial blocks — same rows as the
    legacy materialized ``postings`` table (term, doc_id, tf, positions,
    doc_len), computed on demand with vectorized varint decodes and
    zero-copy per-doc position slicing (per-doc payload bounds come
    from the varint continuation bits; the position bytes themselves
    are never re-encoded)."""
    import numpy as np
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("tf", T.IntegerType(), False),
            T.StructField("positions", T.BinaryType(), False),
            T.StructField("doc_len", T.IntegerType(), False),
        ]
    )
    pruned = partials.select(
        "term", "n_docs", "doc_deltas", "tfs", "pos_deltas", "doc_lens"
    )

    def unpack(batches):
        import pyarrow as pa

        from .blocks import _bin_offsets, _pa_binary
        from .codec import decode_varints

        for batch in batches:
            if batch.num_rows == 0:
                continue
            nd = batch.column("n_docs").to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            npart = len(nd)
            dd_data, _ = _bin_offsets(batch.column("doc_deltas"))
            tt_data, _ = _bin_offsets(batch.column("tfs"))
            ll_data, _ = _bin_offsets(batch.column("doc_lens"))
            pos_data, _ = _bin_offsets(batch.column("pos_deltas"))
            raw = decode_varints(dd_data)
            tfs = decode_varints(tt_data)
            dls = decode_varints(ll_data)
            n = len(raw)
            part_starts = np.zeros(npart, dtype=np.int64)
            np.cumsum(nd[:-1], out=part_starts[1:])
            csum = np.cumsum(raw.astype(np.int64))
            prefix = np.zeros(npart, dtype=np.int64)
            prefix[1:] = csum[part_starts[1:] - 1]
            part_of_row = np.repeat(np.arange(npart), nd)
            docs = csum - prefix[part_of_row]
            bounds = np.zeros(n + 1, dtype=np.int64)
            if pos_data.size:
                val_ends = np.flatnonzero(pos_data < 128)
                bounds[1:] = val_ends[np.cumsum(tfs.astype(np.int64)) - 1] + 1
            out = pa.RecordBatch.from_arrays(
                [
                    batch.column("term").take(pa.array(part_of_row)),
                    pa.array(docs),
                    pa.array(tfs.astype(np.int32)),
                    _pa_binary(pos_data, bounds),
                    pa.array(dls.astype(np.int32)),
                ],
                names=["term", "doc_id", "tf", "positions", "doc_len"],
            )
            for i in range(0, out.num_rows, 131072):
                yield out.slice(i, 131072)

    return pruned.mapInArrow(unpack, schema)


def _stats_from_partials(partials: DataFrame):
    """``(term_stats, doc_stats)`` straight from partials.

    ``df`` is an exact JVM-side aggregation of the ``n_docs`` column (a
    doc appears once per term, so ``sum(n_docs)`` over a term's
    partials IS its document frequency) — no decode, no Python.
    ``doc_stats`` decodes (doc_id, doc_len) pairs with a
    PARTITION-LOCAL unique first (a doc's partials all live in the
    partition that tokenized it), so only ~1 row/doc crosses into the
    final ``groupBy`` — which still exists because a parquet file
    bigger than ``maxPartitionBytes`` can split mid-doc-run and
    duplicate a boundary doc across scan partitions."""
    import numpy as np
    import pyspark.sql.types as T

    term_stats = partials.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df")
    )

    ds_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("doc_len", T.LongType(), False),
        ]
    )
    pruned = partials.select("n_docs", "doc_deltas", "doc_lens")

    def decode_doc_stats(batches):
        import pyarrow as pa

        from .blocks import _bin_offsets
        from .codec import decode_varints

        all_docs, all_lens = [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            nd = batch.column("n_docs").to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            npart = len(nd)
            dd_data, _ = _bin_offsets(batch.column("doc_deltas"))
            ll_data, _ = _bin_offsets(batch.column("doc_lens"))
            raw = decode_varints(dd_data)
            part_starts = np.zeros(npart, dtype=np.int64)
            np.cumsum(nd[:-1], out=part_starts[1:])
            csum = np.cumsum(raw.astype(np.int64))
            prefix = np.zeros(npart, dtype=np.int64)
            prefix[1:] = csum[part_starts[1:] - 1]
            docs = csum - prefix[np.repeat(np.arange(npart), nd)]
            all_docs.append(docs)
            all_lens.append(decode_varints(ll_data).astype(np.int64))
        if not all_docs:
            return
        docs = np.concatenate(all_docs)
        lens = np.concatenate(all_lens)
        uniq, idx = np.unique(docs, return_index=True)
        yield pa.RecordBatch.from_arrays(
            [pa.array(uniq), pa.array(lens[idx])], names=["doc_id", "doc_len"]
        )

    doc_stats = (
        pruned.mapInArrow(decode_doc_stats, ds_schema)
        .groupBy("doc_id")
        .agg(F.first("doc_len").alias("doc_len"))
    )
    return term_stats, doc_stats


def _write_term_stats(term_stats: DataFrame, path: str) -> None:
    """Write term_stats sorted by term within each file — a partition-
    local sort, no exchange and no extra job — so row-group footer
    ranges are disjoint and a serving df lookup
    (``query/wand.py::DirectTermStatsReader``) reads at most one row
    group per file at any index size."""
    term_stats.sortWithinPartitions("term").write.mode("overwrite").parquet(path)


def _write_corpus_stats(spark, path: str, n_docs: int, avgdl: float) -> None:
    """corpus_stats is ONE row, but a Spark write is a full job
    (scheduling + task launch + commit protocol ≈ 0.5 s of pure fixed
    cost per build). Write the parquet driver-side via pyarrow for
    local/file paths; object-store paths fall back to the Spark writer
    (the extra job is noise next to remote IO there)."""
    import os
    import shutil as _shutil

    local = not ("://" in path and not path.startswith("file://"))
    if local:
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq

            p = path[len("file://"):] if path.startswith("file://") else path
            _shutil.rmtree(p, ignore_errors=True)  # overwrite semantics
            os.makedirs(p, exist_ok=True)
            pq.write_table(
                pa.table(
                    {
                        "n_docs": pa.array([int(n_docs)], pa.int64()),
                        "avgdl": pa.array([float(avgdl)], pa.float64()),
                    }
                ),
                os.path.join(p, "part-00000.parquet"),
            )
            open(os.path.join(p, "_SUCCESS"), "w").close()
            return
        except ImportError:  # pragma: no cover
            pass
    spark.createDataFrame(
        [(int(n_docs), float(avgdl))], "n_docs long, avgdl double"
    ).write.mode("overwrite").parquet(path)


#: column schemas of the build's own parquet tables: reads inside
#: build_and_write/load_index pin these so spark.read never runs a
#: schema-inference footer job — each such job is a full driver
#: scheduling round trip (~25 ms), and a build pays for 7+ of them
#: (pure fixed cost that the N->4N scaling ratio is most sensitive to)
_READ_SCHEMAS = {
    "partials": (
        "term string, salt bigint, first_doc bigint, n_docs int, "
        "doc_deltas binary, tfs binary, pos_deltas binary, doc_lens binary"
    ),
    "term_stats": "term string, df bigint",
    "doc_stats": "doc_id bigint, doc_len bigint",
    "corpus_stats": "n_docs bigint, avgdl double",
    "postings": (
        "term string, doc_id bigint, tf int, positions binary, doc_len int"
    ),
    "blocks": (
        "term string, first_doc bigint, n_docs int, doc_deltas binary, "
        "tfs binary, pos_deltas binary, doc_lens binary, "
        "block_max_tf int, block_max_impact double"
    ),
    "doc_map": "doc_id bigint, url string",
    "forward": "doc_id bigint, terms array<struct<term:string,tf:int>>",
}


def _read_stage_table(spark: SparkSession, base_path: str, name: str) -> DataFrame:
    return spark.read.schema(_READ_SCHEMAS[name]).parquet(f"{base_path}/{name}")


def _is_local_path(path: str) -> bool:
    return not ("://" in path and not path.startswith("file://"))


def _footer_row_count(spark: SparkSession, path: str, name: str) -> int:
    """Row count from parquet footers. Local paths: driver-side pyarrow
    metadata read (zero Spark jobs — a .count() is a scheduling round
    trip even when it only scans footers); remote paths fall back to
    the Spark metadata-only count."""
    if _is_local_path(path):
        try:
            import glob as _glob

            import pyarrow.parquet as pq

            p = path[len("file://"):] if path.startswith("file://") else path
            return sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in _glob.glob(f"{p}/*.parquet")
            )
        except ImportError:  # pragma: no cover
            pass
    return _read_stage_table(spark, path.rsplit("/", 1)[0], name).count()


def _stats_from_postings(postings: DataFrame):
    term_stats = postings.groupBy("term").agg(F.count("*").alias("df"))
    if "doc_len" in postings.columns:
        # doc_len is denormalized onto every posting row → the per-doc
        # "aggregation" is a partial-agg first(): the exchange carries
        # ~1 row/doc. (A zero-shuffle mapInPandas dedup was considered
        # and rejected: a parquet file bigger than maxPartitionBytes
        # splits mid-document and would double-count — not 100×-safe.)
        doc_stats = postings.groupBy("doc_id").agg(
            F.first("doc_len").cast("long").alias("doc_len")
        )
    else:
        doc_stats = postings.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    corpus_stats = doc_stats.agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )
    return term_stats, doc_stats, corpus_stats


@dataclass
class InvertedIndex:
    """The queryable index: four DataFrames (≙ Iceberg tables), plus
    an optional doc-keyed ``forward`` projection (``doc_id → sorted
    array<struct<term,tf>>``) for by-document access — the Lucene
    term-vectors analogue. Without it, fetching ONE document's terms
    means filtering the term-keyed postings by ``doc_id``, which
    min/max row-group stats cannot prune (docIDs spread across every
    term's row groups) — a full postings scan at 100x scale."""

    postings: DataFrame  # term, doc_id, tf, positions array<int>
    term_stats: DataFrame  # term, df
    doc_stats: DataFrame  # doc_id, doc_len
    corpus_stats: DataFrame  # n_docs, avgdl
    forward: DataFrame | None = None  # doc_id, terms array<struct<term,tf>>

    def cache(self) -> "InvertedIndex":
        # caching postings makes the derived stats single-pass too
        self.postings.cache()
        for df in (self.term_stats, self.doc_stats, self.corpus_stats):
            df.cache()
        return self


def build_index(
    pages: DataFrame,
    mode: str = "standard",
    compound_noun_min_length: int = 3,
    lang_filter: str | None = "ko",
    with_doc_ids: bool = True,
) -> InvertedIndex:
    """webpages → inverted index (lazy: call ``.cache()`` or use
    :func:`build_and_write` to avoid recomputing tokenization when more
    than one member table is consumed)."""
    if not with_doc_ids and "doc_id" in pages.columns:
        docs = pages if lang_filter is None else pages.filter(F.col("lang") == lang_filter)
        tokens = tokens_table(docs, "doc_id", "text", mode, compound_noun_min_length)
        from ..functions.udfs import encode_positions_udf

        postings = tokens.groupBy("term", "doc_id").agg(
            F.count("*").alias("tf"),
            F.sort_array(F.collect_list("position")).alias("positions_arr"),
        ).withColumn(
            "positions", encode_positions_udf()(F.col("positions_arr"))
        ).drop("positions_arr")
    else:
        postings, _, _, _ = corpus_postings(
            pages, lang_filter, mode, compound_noun_min_length
        )
    return InvertedIndex(postings, *_stats_from_postings(postings))


def build_and_write(
    pages: DataFrame,
    base_path: str,
    mode: str = "standard",
    compound_noun_min_length: int = 3,
    lang_filter: str | None = "ko",
    with_blocks: bool = False,
    hot_min_df: int = 1000,
    salt_shift: int | None = None,
    doc_order: str = "input",
    with_anchors: bool = False,
    anchor_external_only: bool = False,
    with_titles: bool = False,
    host_ranks: DataFrame | None = None,
    freshness_half_life: float | None = None,
    with_forward: bool = False,
) -> InvertedIndex:
    """Materialize the index with per-stage checkpoints (I6):

    1. ``postings``  — ONE tokenize + shuffle pass (+ ``doc_map``)
    2. ``stats``     — derived from the written postings
    3. ``blocks``    — salted sorted shuffle → compressed block postings

    A rerun skips completed stages (manifest + ``_SUCCESS``); docIDs are
    deterministic, so resumed output is byte-identical.

    ``with_blocks=True`` (a serving build) uses the FUSED pipeline:
    stage 1 is ``partials`` — the tokenize pass emits compressed
    partial blocks directly (``corpus_partials``), row postings are
    never materialized (≈35× less data written/scanned between
    stages), and ``load_index(...).postings`` is a decoded view.
    ``with_blocks=False`` keeps the legacy row-postings layout (the
    postings table IS the requested product there).
    """
    from contextlib import contextmanager

    from .manifest import BuildManifest, run_stage

    spark = pages.sparkSession

    @contextmanager
    def _build_confs():
        """Size scans and Arrow batches to the build's row shapes for
        the duration of every stage action:

        * 16384-row Arrow batches — the session default (2048, sized
          for page-text rows) quadruples Python-crossing overhead on
          the narrow posting/partial rows; measured 3× on the pack
          stage.
        * 4MB scan splits + 256KB open cost — Spark's bytes-per-core
          targeting yields ~1 split per core, so every stage runs one
          task wave and a single straggler stretches the whole stage
          (and the postings table inherits that coarse file layout,
          capping downstream parallelism). ~4 waves of small tasks
          smooth stragglers at any core count; override per deployment
          via SPARK_GRAFT_MAX_PARTITION_BYTES when input files are
          large enough that Spark's own targeting is already fine.
        """
        import os as _os

        overrides = {
            "spark.sql.execution.arrow.maxRecordsPerBatch": "16384",
            "spark.sql.files.maxPartitionBytes": _os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)
            ),
            "spark.sql.files.openCostInBytes": str(256 * 1024),
        }
        saved = {}
        for key, val in overrides.items():
            try:
                saved[key] = spark.conf.get(key)
            except Exception:
                saved[key] = None
            spark.conf.set(key, val)
        try:
            yield
        finally:
            for key, val in saved.items():
                if val is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, val)

    manifest = BuildManifest.load_or_create(
        base_path,
        {
            "mode": mode,
            "compound_noun_min_length": compound_noun_min_length,
            "lang_filter": lang_filter,
            "doc_order": doc_order,
            "k1": K1,
            "b": B,
            # blocks-stage parameters belong in the fingerprint too:
            # rerunning with different salting must NOT skip the blocks
            # stage and silently serve the old un-resalted blocks
            "with_blocks": with_blocks,
            "hot_min_df": hot_min_df,
            "salt_shift": salt_shift,
            "with_forward": with_forward,
        },
    )

    fused = with_blocks
    emit_stage = "partials" if fused else "postings"

    def stage_emit():
        import threading

        maker = corpus_partials if fused else corpus_postings
        emitted, doc_map, n_docs, (acc_tokens, acc_postings) = maker(
            pages, lang_filter, mode, compound_noun_min_length, order=doc_order
        )
        # doc_map is independent of the main sink — submit it
        # concurrently so its (url-pruned, Python-thin) job fills task
        # slots the tokenize pass leaves idle in its tail, instead of
        # paying a second full job latency serially
        map_err: list[BaseException] = []

        def _write_map():
            try:
                doc_map.write.mode("overwrite").parquet(f"{base_path}/doc_map")
            except BaseException as e:  # re-raised on the main thread
                map_err.append(e)

        t = threading.Thread(target=_write_map, daemon=True)
        t.start()
        emitted.write.mode("overwrite").parquet(f"{base_path}/{emit_stage}")
        t.join()
        if map_err:
            raise map_err[0]
        # docs_tokenized falls out of the docID offset pass (exact);
        # token/posting totals are transformation-side accumulators —
        # informational lineage only (may over-count on task retries;
        # scoring-grade corpus stats come from the stats stage)
        return {
            "docs_tokenized": n_docs,
            "tokens_total": acc_tokens.value,
            "postings_emitted": acc_postings.value,
        }

    with _build_confs():
        run_stage(manifest, emit_stage, f"{base_path}/{emit_stage}", stage_emit)

    def stage_stats():
        import threading

        from pyspark.sql import Observation

        if fused:
            partials = _read_stage_table(spark, base_path, "partials")
            term_stats, doc_stats = _stats_from_partials(partials)
        else:
            postings = _read_stage_table(spark, base_path, "postings")
            term_stats, doc_stats, _ = _stats_from_postings(postings)
        # corpus stats ride the doc_stats write via Observation — exact
        # under task retries / speculation (observed metrics are action-
        # consistent), unlike transformation-side accumulators which
        # double-count replayed batches; avgdl feeds block_max_impact
        # and BM25, so it must be retry-exact. Zero extra pass.
        obs = Observation("corpus")
        doc_stats = doc_stats.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_len").alias("dl_sum"),
        )
        # the two aggregations are independent — overlap their job
        # latencies instead of paying them back-to-back
        ts_err: list[BaseException] = []

        def _write_terms():
            try:
                _write_term_stats(term_stats, f"{base_path}/term_stats")
            except BaseException as e:
                ts_err.append(e)

        t = threading.Thread(target=_write_terms, daemon=True)
        t.start()
        doc_stats.write.mode("overwrite").parquet(f"{base_path}/doc_stats")
        vals = obs.get
        n_docs = int(vals["n_docs"])
        avgdl = (vals["dl_sum"] or 0) / n_docs if n_docs else 0.0
        t.join()
        if ts_err:
            raise ts_err[0]
        _write_corpus_stats(spark, f"{base_path}/corpus_stats", n_docs, avgdl)
        return {"n_docs": n_docs, "avgdl": avgdl}

    def stats_blocks_overlapped():
        """Fresh fused build: overlap the stats-stage writes with the
        blocks stage (guide §2.6 — concurrent independent jobs). Only
        ``avgdl`` (the Observation riding the doc_stats write) is on
        the blocks stage's critical path; the term_stats write and the
        driver-side corpus write are not, so they run while the blocks
        exchange/re-block executes. The blocks join consumes the
        CACHED term_stats DataFrame (same rows the parquet write
        persists), so it neither waits for that write nor re-reads it.
        Both stages are recorded in the manifest only after every sink
        (incl. the threaded term_stats write) has its ``_SUCCESS`` —
        a crash mid-way records nothing and the sequential resume path
        re-runs from the last completed stage, byte-identical."""
        import threading
        import time as _time

        from pyspark.sql import Observation

        from .blocks import SALT_SHIFT, build_blocks_from_partials

        t0 = _time.perf_counter()
        partials = _read_stage_table(spark, base_path, "partials")
        term_stats, doc_stats = _stats_from_partials(partials)
        ts = term_stats.persist()
        ts_err: list[BaseException] = []
        ts_done: list[float] = []

        def _write_terms():
            try:
                _write_term_stats(ts, f"{base_path}/term_stats")
                ts_done.append(_time.perf_counter())
            except BaseException as e:
                ts_err.append(e)

        th = threading.Thread(target=_write_terms, daemon=True)
        th.start()
        try:
            obs = Observation("corpus")
            doc_stats = doc_stats.observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_len").alias("dl_sum"),
            )
            doc_stats.write.mode("overwrite").parquet(f"{base_path}/doc_stats")
            vals = obs.get
            n_docs = int(vals["n_docs"])
            avgdl = (vals["dl_sum"] or 0) / n_docs if n_docs else 0.0
            _write_corpus_stats(spark, f"{base_path}/corpus_stats", n_docs, avgdl)
            t_stats = _time.perf_counter()
            blocks = build_blocks_from_partials(
                partials,
                ts,
                n_docs=n_docs,
                avgdl=avgdl,
                hot_min_df=hot_min_df,
                salt_shift=salt_shift if salt_shift is not None else SALT_SHIFT,
            )
            blocks.write.mode("overwrite").parquet(f"{base_path}/blocks")
        finally:
            th.join()
            ts.unpersist()
        if ts_err:
            raise ts_err[0]
        # the stats stage ends when its last sink does: the threaded
        # term_stats write may outlast the corpus write
        manifest.record(
            "stats",
            f"{base_path}/term_stats",
            {"n_docs": n_docs, "avgdl": avgdl},
            max(t_stats, *ts_done) - t0,
        )
        manifest.record(
            "blocks",
            f"{base_path}/blocks",
            {
                "blocks_written": _footer_row_count(
                    spark, f"{base_path}/blocks", "blocks"
                )
            },
            _time.perf_counter() - t_stats,
        )

    import os as _os

    fresh_fused = (
        fused
        and _os.environ.get("SPARK_GRAFT_FUSED_OVERLAP", "1") != "0"
        and not manifest.stage_complete("stats")
        and not manifest.stage_complete("blocks")
    )
    with _build_confs():
        if fresh_fused:
            stats_blocks_overlapped()
        else:
            run_stage(manifest, "stats", f"{base_path}/term_stats", stage_stats)

    def _field_stage(name: str, postings_maker):
        """Extra-field stage (``index/anchors.py`` tables): postings
        first, then ``{name}_doc_stats``/``{name}_corpus_stats``
        derived from the WRITTEN postings (no second tokenize pass;
        corpus scalars ride the doc-stats write via Observation —
        retry-exact, the stats-stage discipline). Consumed by
        ``query/bm25f.py::bm25f_topk_postings``."""

        def stage():
            from pyspark.sql import Observation

            doc_map = _read_stage_table(spark, base_path, "doc_map")
            postings_maker(doc_map).write.mode("overwrite").parquet(
                f"{base_path}/{name}_postings"
            )
            written = spark.read.parquet(f"{base_path}/{name}_postings")
            ds = written.groupBy("doc_id").agg(F.sum("tf").alias(f"{name}_len"))
            obs = Observation(f"{name}_corpus")
            ds = ds.observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(f"{name}_len").alias("len_sum"),
            )
            ds.write.mode("overwrite").parquet(f"{base_path}/{name}_doc_stats")
            vals = obs.get
            n_fd = int(vals["n_docs"] or 0)
            fls = int(vals["len_sum"] or 0)
            spark.createDataFrame(
                [(n_fd, fls)],
                f"n_{name}_docs long, {name}_len_sum long",
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{base_path}/{name}_corpus_stats"
            )
            return {f"n_{name}_docs": n_fd, f"{name}_len_sum": fls}

        with _build_confs():
            run_stage(manifest, f"{name}s", f"{base_path}/{name}_postings", stage)

    if with_anchors:
        from .anchors import anchor_postings_table

        _field_stage(
            "anchor",
            lambda doc_map: anchor_postings_table(
                pages,
                doc_map,
                mode,
                compound_noun_min_length,
                external_only=anchor_external_only,
            ),
        )

    if with_titles:
        from .anchors import title_postings_table

        _field_stage(
            "title",
            lambda doc_map: title_postings_table(
                pages, doc_map, mode, compound_noun_min_length
            ),
        )

    if host_ranks is not None or freshness_half_life is not None:

        def stage_boosts():
            """``doc_boosts`` (doc_id, boost): static quality priors
            resolved against this build's doc_map — host centrality
            (``functions/webgraph.py::doc_boost_table``) and/or
            recency (``functions/freshness.py::freshness_boost_table``
            over the pages' ``warc_ts``), summed per doc when both are
            requested (``combine_boosts``) — served by
            ``engine.search_boosted`` / ``query/bm25.py::
            boosted_bm25_topk``."""
            from ..functions.freshness import (
                combine_boosts,
                freshness_boost_table,
            )
            from ..functions.webgraph import doc_boost_table

            doc_map = _read_stage_table(spark, base_path, "doc_map")
            parts = []
            if host_ranks is not None:
                parts.append(doc_boost_table(doc_map, host_ranks))
            if freshness_half_life is not None:
                # url-keyed resolution; duplicate urls (legal on the
                # non-upsert ingest path) take the latest fetch so the
                # join stays 1:1 against doc_map and deterministic
                page_ts = (
                    pages.groupBy("url")
                    .agg(F.max("warc_ts").alias("warc_ts"))
                )
                doc_ts = doc_map.join(page_ts, "url").select(
                    "doc_id", "warc_ts"
                )
                parts.append(
                    freshness_boost_table(doc_ts, freshness_half_life)
                )
            combine_boosts(*parts).write.mode(
                "overwrite"
            ).parquet(f"{base_path}/doc_boosts")
            # footer-only count for the lineage counter
            return {
                "docs_boosted": spark.read.parquet(
                    f"{base_path}/doc_boosts"
                ).count()
            }

        with _build_confs():
            run_stage(manifest, "boosts", f"{base_path}/doc_boosts", stage_boosts)

    if with_blocks:

        def stage_blocks():
            from .blocks import SALT_SHIFT, build_blocks_from_partials

            partials = _read_stage_table(spark, base_path, "partials")
            term_stats = _read_stage_table(spark, base_path, "term_stats")
            # corpus stats come from the stats stage's manifest counters
            # (present even on resume); parquet is the fallback for
            # manifests written before these counters existed
            st = manifest.stages.get("stats", {}).get("counters", {})
            if "n_docs" in st and "avgdl" in st:
                n_docs, avgdl = st["n_docs"], st["avgdl"]
            else:
                corpus = spark.read.parquet(f"{base_path}/corpus_stats").first()
                n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]

            blocks = build_blocks_from_partials(
                partials,
                term_stats,
                n_docs=n_docs,
                avgdl=avgdl,
                hot_min_df=hot_min_df,
                salt_shift=salt_shift if salt_shift is not None else SALT_SHIFT,
            )
            # block rows leave the re-blocker (term, first_doc)-
            # sorted within partitions, so parquet row-group min/max
            # stats prune term-filtered scans
            blocks.write.mode("overwrite").parquet(f"{base_path}/blocks")
            # footer-only count (driver-side on local paths — no job)
            return {
                "blocks_written": _footer_row_count(
                    spark, f"{base_path}/blocks", "blocks"
                )
            }

        with _build_confs():
            run_stage(manifest, "blocks", f"{base_path}/blocks", stage_blocks)

    if with_forward:

        def stage_forward():
            """Doc-keyed forward projection (``doc_id → sorted
            array<struct<term,tf>>``) — the Lucene term-vectors
            analogue that makes by-doc access (MoreLikeThis seed
            fetch, ``query/expand.py::mlt_seed_terms``) an O(1)
            doc_id-pruned lookup instead of a full scan of the
            term-keyed postings. Range-partitioned and sorted by
            doc_id so parquet min/max stats prune single-doc fetches
            to one row group. Opt-in: it costs one postings-sized
            shuffle + write, which builds that never serve by-doc
            access should not pay."""
            if fused:
                rows = postings_from_partials(
                    _read_stage_table(spark, base_path, "partials")
                ).select("doc_id", "term", "tf")
            else:
                rows = _read_stage_table(spark, base_path, "postings").select(
                    "doc_id", "term", "tf"
                )
            agg = rows.groupBy("doc_id").agg(
                F.sort_array(F.collect_list(F.struct("term", "tf"))).alias(
                    "terms"
                )
            )
            # persist before repartitionByRange: its range-sampling job
            # re-executes the upstream plan (decode + aggregate) a
            # second time otherwise
            agg = agg.persist()
            try:
                (
                    agg.repartitionByRange(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                    .sortWithinPartitions("doc_id")
                    .write.mode("overwrite")
                    .parquet(f"{base_path}/forward")
                )
            finally:
                agg.unpersist()
            return {
                "forward_docs": _footer_row_count(
                    spark, f"{base_path}/forward", "forward"
                )
            }

        with _build_confs():
            run_stage(manifest, "forward", f"{base_path}/forward", stage_forward)

    return load_index(spark, base_path)


def load_index(spark: SparkSession, base_path: str) -> InvertedIndex:
    """Load an index from a build directory (parquet) or a published
    Iceberg catalog namespace (dotted identifier, see
    ``sources/catalog.py::publish_index``)."""
    from ..sources.catalog import is_catalog_identifier

    sep = "." if is_catalog_identifier(base_path) else "/"
    read = (
        spark.read.table
        if sep == "."
        else spark.read.parquet
    )
    if sep == "/":
        # probe via the Hadoop FS API (file://, hdfs://, s3a:// all
        # work) instead of letting spark.read throw PATH_NOT_FOUND —
        # the thrown probe dumps a full Java stacktrace into every
        # serving log for fused builds, which never materialize the
        # row-postings directory
        from ..streaming.incremental import _fs_and_path

        fs, jpath, _jvm = _fs_and_path(spark, f"{base_path}/postings")
        has_postings = fs.exists(jpath)
    else:
        has_postings = spark.catalog.tableExists(f"{base_path}.postings")
    if sep == "/":
        # schema-pinned reads: no schema-inference job per table (4-5
        # scheduling round trips of pure fixed cost per build/load)
        read = lambda p: _read_stage_table(  # noqa: E731
            spark, base_path, p.rsplit(sep, 1)[-1]
        )
    if has_postings:
        postings = read(f"{base_path}{sep}postings")
    else:
        # fused build: row postings were never materialized — serve the
        # decoded view over the partial blocks (row-identical)
        postings = postings_from_partials(read(f"{base_path}{sep}partials"))
    forward = None
    if sep == "/":
        fwd_fs, fwd_jpath, _ = _fs_and_path(spark, f"{base_path}/forward")
        if fwd_fs.exists(fwd_jpath):
            forward = read(f"{base_path}/forward")
    elif spark.catalog.tableExists(f"{base_path}.forward"):
        forward = read(f"{base_path}.forward")
    return InvertedIndex(
        postings,
        read(f"{base_path}{sep}term_stats"),
        read(f"{base_path}{sep}doc_stats"),
        read(f"{base_path}{sep}corpus_stats"),
        forward=forward,
    )
