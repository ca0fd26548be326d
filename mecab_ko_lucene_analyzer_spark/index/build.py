"""Inverted-index construction (I1–I5) — the stage the reference hands
to Lucene (``DanawaBulkTextIndexer.java:106`` → ES shard indexing); here
it is a native Spark plan.

Plan discipline (the part that must survive 100×):

* tokenization (the expensive Arrow UDF) happens **exactly once**: the
  tokenize pass emits compressed partial blocks (:func:`corpus_partials`)
  and every derived table (term/doc/corpus stats, blocks, the decoded
  row-postings view) is computed *from the partials*, never from a
  second scan of the corpus. ``doc_len`` rides each partial, so doc
  stats need no tf sum.
* the corpus is pruned to ``(url, text)`` before tokenizing, so page
  ``html`` bytes never cross the wire.
* a document's tokens never leave their partition, so the tokenize
  pass needs no token-level shuffle; the only wide exchange of the
  build is the salted term repartition of the blocks stage.
"""

from __future__ import annotations

import time
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..fs import parquet_parts, resolve
from ..plans import optimized_plan_probe

__all__ = [
    "InvertedIndex",
    "build_index",
    "build_and_write",
    "load_index",
    "corpus_partials",
    "postings_from_partials",
    "partials_from_postings",
    "partials_from_tokens",
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
    instead. Fails closed: a plan the private API cannot walk is
    unstable."""
    return optimized_plan_probe(df, _stable_plan, False)


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


def _docid_partitions(pages, lang_filter, num_partitions, order, doc_base=0):
    """docID scaffold for :func:`corpus_partials`:
    prune → (optionally) canonical-order shuffle → per-partition row
    counts → docID base offsets (+ ``doc_base``). Returns ``(text_parts,
    map_parts, offsets, n_docs, release)``; ``release()`` unpersists what
    the scaffold pinned, once the last pass has run. ``order="url"``
    passes share one cached ``docids.range_partition_offsets`` relation.

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

    from .docids import partition_offsets, range_partition_offsets

    if lang_filter is not None:
        pages = pages.filter(F.col("lang") == lang_filter)
    pruned = pages.select("url", "text")
    pinned = None
    if order == "url":
        parts, offsets, n_docs = range_partition_offsets(
            pruned, "url", num_partitions=num_partitions
        )
        text_parts = map_parts = pinned = parts
    else:
        if not _rows_stable_across_jobs(pruned):
            pruned = pinned = pruned.persist(StorageLevel.MEMORY_AND_DISK)
        offsets, n_docs = partition_offsets(
            pruned.withColumn("_pid", F.spark_partition_id())
        )
        text_parts = pruned.select("text").withColumn("_pid", F.spark_partition_id())
        map_parts = pruned.select("url").withColumn("_pid", F.spark_partition_id())
    if doc_base:
        offsets = {pid: off + doc_base for pid, off in offsets.items()}

    release = pinned.unpersist if pinned is not None else (lambda: None)
    return text_parts, map_parts, offsets, n_docs, release


def _doc_map_df(map_parts, offsets, *carry):
    """``(doc_id, url, *carry)`` from the url pass, as a JVM-side
    projection: a row's docID is its partition's base offset plus its
    rank within the partition — the low 33 bits of
    ``monotonically_increasing_id`` (documented layout), counted in the
    same row order the tokenize pass numbers its documents in."""
    n_parts = max(offsets, default=-1) + 1
    base = F.element_at(
        F.array(*[F.lit(offsets.get(p, 0)) for p in range(n_parts)]),
        F.col("_pid") + 1,
    )
    rank = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    return map_parts.select(
        (base + rank).cast("long").alias("doc_id"), "url", *carry
    )


def corpus_partials(
    pages: DataFrame,
    lang_filter: str | None = "ko",
    mode: str = "standard",
    compound_noun_min_length: int = 3,
    num_partitions: int | None = None,
    order: str = "input",
    doc_base: int = 0,
):
    """Corpus → ``(partials, doc_map)`` with ZERO token-level shuffle:
    the tokenize pass emits partial-block rows (the compressed map-side-
    combined form, :data:`..index.blocks.PARTIAL_SCHEMA`) directly, so
    the ~35× larger row-postings relation never crosses the Python↔JVM
    boundary and is never materialized. This is the 100×-scale shape:
    the only thing a build ever writes or shuffles is ≈ the compressed
    index size. Row postings, term/doc stats are all DERIVABLE from
    partials (:func:`postings_from_partials`, :func:`_stats_from_partials`).

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

    ``doc_base`` offsets every docID (a streaming micro-batch numbers
    its documents after every earlier batch's).

    Salting is NOT applied here (hot-term dfs aren't known until the
    stats stage); the blocks stage assigns ``salt = first_doc >>
    SALT_SHIFT`` per partial row for hot terms — partials are
    doc-contiguous and disjoint, so first_doc-derived salt ranges
    remain doc-contiguous and the salted groups concatenate without a
    re-merge, exactly as with per-doc salting.

    Returns ``(partials, doc_map, n_docs, counters, release)`` — the doc
    count falls out of the docID offset pass, ``release()`` unpersists
    the docID scaffold after the sinks ran, and ``counters`` is a pair of
    Spark accumulators ``(total_tokens, postings_rows)`` updated inside
    the tokenize ``mapInArrow``. Accumulator updates in a
    TRANSFORMATION can replay under task retries / speculation, so
    these are informational lineage counters only — anything that feeds
    scoring (avgdl → block_max_impact → BM25) is derived retry-exactly
    from the written doc_stats via ``Observation`` in the stats stage.
    """
    import numpy as np

    from ..analysis.tokenizer import get_lattice_provider, index_token_stream
    from .blocks import PARTIAL_SCHEMA, pack_partials
    from .codec import encode_varint_groups_concat

    spark = pages.sparkSession
    text_parts, map_parts, offsets, acc, release = _docid_partitions(
        pages, lang_filter, num_partitions, order, doc_base
    )
    acc_tokens = spark.sparkContext.accumulator(0)
    acc_postings = spark.sparkContext.accumulator(0)

    def emit_partials(batches):
        import pyarrow as pa

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
        if codes_p:
            # docIDs are emitted ascending (base + running row offset):
            # the rows are doc-major, as the shared packer expects
            yield from pack_partials(
                pa.array(uniques, type=pa.string()),
                np.concatenate(codes_p),
                np.concatenate(docs_p),
                np.concatenate(tfs_p),
                np.concatenate(dls_p),
                np.frombuffer(b"".join(pos_bufs), dtype=np.uint8),
                np.concatenate(lens_p),
            )

    return (
        text_parts.mapInArrow(emit_partials, PARTIAL_SCHEMA),
        _doc_map_df(map_parts, offsets),
        acc,
        (acc_tokens, acc_postings),
        release,
    )


def postings_from_partials(partials: DataFrame) -> DataFrame:
    """Row-postings VIEW decoded from partial blocks — same rows as a
    materialized ``postings`` table (term, doc_id, tf, positions,
    doc_len; earlier builds and compactions), computed on demand with
    vectorized varint decodes and zero-copy per-doc position slicing
    (per-doc payload bounds come from the varint continuation bits; the
    position bytes themselves are never re-encoded)."""
    import numpy as np

    from .blocks import _pa_binary, decode_partials

    pruned = partials.select(
        "term", "n_docs", "doc_deltas", "tfs", "pos_deltas", "doc_lens"
    )

    def unpack(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            row, docs, tfs, dls, pos_data, pos_bounds = decode_partials(batch)
            out = pa.RecordBatch.from_arrays(
                [
                    batch.column("term").take(pa.array(row)),
                    pa.array(docs),
                    pa.array(tfs.astype(np.int32)),
                    _pa_binary(pos_data, pos_bounds),
                    pa.array(dls.astype(np.int32)),
                ],
                names=["term", "doc_id", "tf", "positions", "doc_len"],
            )
            for i in range(0, out.num_rows, 131072):
                yield out.slice(i, 131072)

    schema = (
        "term string not null, doc_id bigint not null, tf int not null, "
        "positions binary not null, doc_len int not null"
    )
    return pruned.mapInArrow(unpack, schema)


def partials_from_postings(postings: DataFrame) -> DataFrame:
    """Unsalted partial blocks from row postings — the inverse of
    :func:`postings_from_partials`. The range repartition by ``doc_id``
    makes each partition a disjoint docID range, sorted by doc, so its
    per-partition term runs are doc-contiguous segments."""
    from .blocks import PARTIAL_SCHEMA, _pack_stage_arrow

    spark = postings.sparkSession
    return (
        postings.select("term", "doc_id", "tf", "positions", "doc_len")
        .repartitionByRange(spark.sparkContext.defaultParallelism, "doc_id")
        .sortWithinPartitions("doc_id")
        .mapInArrow(_pack_stage_arrow, PARTIAL_SCHEMA)
    )


def partials_from_tokens(tokens: DataFrame) -> DataFrame:
    """Unsalted partial blocks from token rows ``(doc_id, term,
    position)`` — e.g. a Catalyst whitespace tokenizer's
    ``posexplode``. One ``doc_id`` range exchange puts each doc's
    tokens in one partition of disjoint docID ranges; a partition-local
    pack then derives tf, the sorted positions and ``doc_len`` (the
    doc's token count) — no ``groupBy``, no per-posting Python rows."""
    from .blocks import PARTIAL_SCHEMA, _pack_tokens_arrow

    spark = tokens.sparkSession
    return (
        tokens.select("doc_id", "term", "position")
        .repartitionByRange(spark.sparkContext.defaultParallelism, "doc_id")
        .mapInArrow(_pack_tokens_arrow, PARTIAL_SCHEMA)
    )


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

    from .blocks import decode_partials

    term_stats = partials.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df")
    )
    pruned = partials.select("n_docs", "doc_deltas", "doc_lens")

    def decode_doc_stats(batches):
        import pyarrow as pa

        all_docs, all_lens = [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            _, docs, _, lens, _, _ = decode_partials(batch)
            all_docs.append(docs)
            all_lens.append(lens.astype(np.int64))
        if not all_docs:
            return
        docs = np.concatenate(all_docs)
        lens = np.concatenate(all_lens)
        uniq, idx = np.unique(docs, return_index=True)
        yield pa.RecordBatch.from_arrays(
            [pa.array(uniq), pa.array(lens[idx])], names=["doc_id", "doc_len"]
        )

    doc_stats = (
        pruned.mapInArrow(
            decode_doc_stats, "doc_id bigint not null, doc_len bigint not null"
        )
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
    cost per build). Write the parquet driver-side via pyarrow where
    ``fs.resolve`` opens the path on the local file system (a plain
    path, ``file://``, ``file:/``); other paths take the Spark writer
    (the extra job is noise next to remote IO there)."""
    import pyarrow as pa
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    try:
        fs, root = resolve(path)
    except (pa.ArrowException, OSError):
        fs = None
    if isinstance(fs, pafs.LocalFileSystem):
        fs.delete_dir_contents(root, missing_dir_ok=True)  # overwrite semantics
        fs.create_dir(root)
        pq.write_table(
            pa.table({"n_docs": [int(n_docs)], "avgdl": [float(avgdl)]}),  # int64, double
            f"{root}/part-00000.parquet",
            filesystem=fs,
        )
        fs.open_output_stream(f"{root}/_SUCCESS").close()
        return
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


def _footer_row_count(spark: SparkSession, path: str, name: str) -> int:
    """Row count from parquet footers, read driver-side through
    ``fs.parquet_parts`` (zero Spark jobs — a .count() is a scheduling
    round trip even when it only scans footers). A path pyarrow cannot
    open (a Hadoop-only scheme such as ``s3a://``, ``hdfs://`` without
    libhdfs) takes the Spark metadata-only count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        fs, parts = parquet_parts(path)
    except (pa.ArrowException, OSError):
        return _read_stage_table(spark, path.rsplit("/", 1)[0], name).count()
    return sum(pq.ParquetFile(f, filesystem=fs).metadata.num_rows for f in parts)


@dataclass
class InvertedIndex:
    """The queryable index: four DataFrames (≙ Iceberg tables), plus
    an optional doc-keyed ``forward`` projection (``doc_id → sorted
    array<struct<term,tf>>``) for by-document access — the Lucene
    term-vectors analogue. Without it, fetching ONE document's terms
    means filtering the term-keyed postings by ``doc_id``, which
    min/max row-group stats cannot prune (docIDs spread across every
    term's row groups) — a full postings scan at 100x scale."""

    postings: DataFrame  # term, doc_id, tf, positions (varint bytes), doc_len
    term_stats: DataFrame  # term, df
    doc_stats: DataFrame  # doc_id, doc_len
    corpus_stats: DataFrame  # n_docs, avgdl
    forward: DataFrame | None = None  # doc_id, terms array<struct<term,tf>>
    #: unpersists what a lazy :func:`build_index` pinned to number the
    #: documents (its input, when that is not stable across jobs); call
    #: it once done with the tables, which recompute from the input
    release: Callable[[], None] = field(default=lambda: None, repr=False, compare=False)

    def cache(self) -> "InvertedIndex":
        # a lazy build_index result derives every member from its own
        # tokenize pass; caching each computes it once
        self.postings.cache()
        for df in (self.term_stats, self.doc_stats, self.corpus_stats):
            df.cache()
        return self


def build_index(
    pages: DataFrame,
    mode: str = "standard",
    compound_noun_min_length: int = 3,
    lang_filter: str | None = "ko",
) -> InvertedIndex:
    """webpages → inverted index: the :func:`corpus_partials` emitter
    read as the decoded row-postings view plus partials-derived stats
    (lazy: call ``.cache()`` or use :func:`build_and_write` to avoid
    recomputing tokenization when more than one member table is
    consumed). ``release()`` on the result unpersists the docID
    scaffold that :func:`corpus_partials` pinned."""
    partials, _, _, _, release = corpus_partials(
        pages, lang_filter, mode, compound_noun_min_length
    )
    term_stats, doc_stats = _stats_from_partials(partials)
    corpus = doc_stats.agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )
    return InvertedIndex(
        postings_from_partials(partials), term_stats, doc_stats, corpus,
        release=release,
    )


@contextmanager
def _in_background(fn):
    """Run ``fn`` on a daemon thread for the duration of the ``with``
    body, so an independent Spark sink overlaps the body's jobs. The
    thread is an ``InheritableThread``: its jobs carry the caller's
    Spark local properties (job group, description, scheduler pool).
    The thread is always joined on exit; its exception is re-raised on
    the calling thread (an exception of the body takes precedence)."""
    from pyspark import InheritableThread

    err: list[BaseException] = []

    def run():
        try:
            fn()
        except BaseException as e:  # re-raised on the calling thread
            err.append(e)

    t = InheritableThread(run, daemon=True)
    t.start()
    try:
        yield
    finally:
        t.join()
    if err:
        raise err[0]


@contextmanager
def _build_confs(spark: SparkSession):
    """Size scans and Arrow batches to the build's row shapes for the
    duration of every stage action:

    * 16384-row Arrow batches — the session default (2048, sized for
      page-text rows) quadruples Python-crossing overhead on the narrow
      posting/partial rows; measured 3× on the pack stage.
    * 4MB scan splits + 256KB open cost — Spark's bytes-per-core
      targeting yields ~1 split per core, so every stage runs one task
      wave and a single straggler stretches the whole stage (and the
      postings table inherits that coarse file layout, capping
      downstream parallelism). ~4 waves of small tasks smooth
      stragglers at any core count; override per deployment via
      SPARK_GRAFT_MAX_PARTITION_BYTES when input files are large enough
      that Spark's own targeting is already fine.
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


def _stats_and_blocks(
    spark: SparkSession,
    base_path: str,
    stats: bool = True,
    blocks: bool = True,
    hot_min_df: int = 1000,
    salt_shift: int | None = None,
) -> tuple[int, float, float, float]:
    """The stats+blocks stage over ``{base_path}/partials``, shared by
    :func:`build_and_write` and streaming compaction, so a compacted
    index equals a batch build by construction. Returns ``(n_docs,
    avgdl, stats_seconds, blocks_seconds)``.

    Both halves run as ONE overlapped schedule. Only ``avgdl`` (the
    Observation riding the doc_stats write) is on the blocks' critical
    path: the term_stats write runs in the background while the blocks
    exchange/re-block executes, and the blocks join consumes the CACHED
    term_stats DataFrame (same rows the write persists), so it neither
    waits for that write nor re-reads it. A blocks-only run reads
    term_stats and corpus_stats back from disk. ``stats_seconds`` run
    to the end of the last stats sink (the background term_stats write
    may outlast the corpus write)."""
    from pyspark.sql import Observation

    from .blocks import SALT_SHIFT, build_blocks_from_partials

    t0 = time.perf_counter()
    partials = _read_stage_table(spark, base_path, "partials")
    ts_done: list[float] = []
    with ExitStack() as stack:
        if stats:
            term_stats, doc_stats = _stats_from_partials(partials)
            term_stats = term_stats.persist()
            stack.callback(term_stats.unpersist)

            def write_terms():
                _write_term_stats(term_stats, f"{base_path}/term_stats")
                ts_done.append(time.perf_counter())

            stack.enter_context(_in_background(write_terms))
            # corpus stats ride the doc_stats write via Observation —
            # exact under task retries / speculation (observed metrics
            # are action-consistent), unlike transformation-side
            # accumulators which double-count replayed batches; avgdl
            # feeds block_max_impact and BM25, so it must be
            # retry-exact. Zero extra pass.
            obs = Observation("corpus")
            doc_stats.observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_len").alias("dl_sum"),
            ).write.mode("overwrite").parquet(f"{base_path}/doc_stats")
            vals = obs.get
            n_docs = int(vals["n_docs"])
            avgdl = (vals["dl_sum"] or 0) / n_docs if n_docs else 0.0
            _write_corpus_stats(spark, f"{base_path}/corpus_stats", n_docs, avgdl)
        else:
            term_stats = _read_stage_table(spark, base_path, "term_stats")
            corpus = _read_stage_table(spark, base_path, "corpus_stats").first()
            n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
        t_stats = time.perf_counter()
        if blocks:
            # block rows leave the re-blocker (term, first_doc)-sorted
            # within partitions, so parquet row-group min/max stats
            # prune term-filtered scans
            build_blocks_from_partials(
                partials,
                term_stats,
                n_docs=n_docs,
                avgdl=avgdl,
                hot_min_df=hot_min_df,
                salt_shift=salt_shift if salt_shift is not None else SALT_SHIFT,
            ).write.mode("overwrite").parquet(f"{base_path}/blocks")
    stats_s = max(t_stats, *ts_done) - t0 if stats else 0.0
    return n_docs, avgdl, stats_s, time.perf_counter() - t_stats


def build_and_write(
    pages: DataFrame,
    base_path: str,
    mode: str = "standard",
    compound_noun_min_length: int = 3,
    lang_filter: str | None = "ko",
    with_blocks: bool = True,
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

    1. ``partials`` — ONE tokenize pass emitting compressed partial
       blocks (:func:`corpus_partials`), plus ``doc_map``
    2. ``stats``    — term/doc/corpus stats derived from the partials
    3. ``blocks``   — salted sorted shuffle → compressed block postings

    Row postings are never materialized (≈35× less data written and
    scanned between stages); ``load_index(...).postings`` is a decoded
    view. ``with_blocks=False`` skips stage 3 only.

    A rerun skips completed stages (manifest + ``_SUCCESS``); docIDs are
    deterministic, so a resumed build writes the same rows in every
    table. The split of rows into part files can differ: the blocks
    exchange's ``repartitionByRange`` seeds its range sampler from the
    RDD id, which depends on the jobs the session ran before.
    """
    from .manifest import BuildManifest, run_stage

    spark = pages.sparkSession
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

    def stage_emit():
        partials, doc_map, n_docs, (acc_tokens, acc_postings), release = (
            corpus_partials(
                pages, lang_filter, mode, compound_noun_min_length, order=doc_order
            )
        )
        # doc_map is independent of the main sink — submit it
        # concurrently so its (url-pruned, Python-thin) job fills task
        # slots the tokenize pass leaves idle in its tail, instead of
        # paying a second full job latency serially
        try:
            with _in_background(
                lambda: doc_map.write.mode("overwrite").parquet(f"{base_path}/doc_map")
            ):
                partials.write.mode("overwrite").parquet(f"{base_path}/partials")
        finally:
            release()
        # docs_tokenized falls out of the docID offset pass (exact);
        # token/posting totals are transformation-side accumulators —
        # informational lineage only (may over-count on task retries;
        # scoring-grade corpus stats come from the stats stage)
        return {
            "docs_tokenized": n_docs,
            "tokens_total": acc_tokens.value,
            "postings_emitted": acc_postings.value,
        }

    with _build_confs(spark):
        run_stage(manifest, "partials", f"{base_path}/partials", stage_emit)

    # the ``stats`` and ``blocks`` stages as ONE overlapped schedule, on
    # fresh and resumed builds alike; each half runs only when its
    # manifest stage is incomplete. ``stats`` is recorded only after
    # every stats sink has its ``_SUCCESS``, then ``blocks`` — a crash
    # mid-way records nothing new, and the rerun writes the same rows
    do_stats = not manifest.stage_complete("stats")
    do_blocks = with_blocks and not manifest.stage_complete("blocks")
    if do_stats or do_blocks:
        with _build_confs(spark):
            n_docs, avgdl, stats_s, blocks_s = _stats_and_blocks(
                spark, base_path, do_stats, do_blocks, hot_min_df, salt_shift
            )
        if do_stats:
            counters = {"n_docs": n_docs, "avgdl": avgdl}
            manifest.record("stats", f"{base_path}/term_stats", counters, stats_s)
        if do_blocks:
            # footer-only count (driver-side on local paths — no job)
            n_blocks = _footer_row_count(spark, f"{base_path}/blocks", "blocks")
            manifest.record(
                "blocks", f"{base_path}/blocks", {"blocks_written": n_blocks}, blocks_s
            )

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

        with _build_confs(spark):
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

        with _build_confs(spark):
            run_stage(manifest, "boosts", f"{base_path}/doc_boosts", stage_boosts)

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
            rows = postings_from_partials(
                _read_stage_table(spark, base_path, "partials")
            ).select("doc_id", "term", "tf")
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

        with _build_confs(spark):
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
        # serving log for build_and_write builds, which never
        # materialize the row-postings directory (earlier builds and
        # compactions still have one)
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
        # row postings were never materialized — serve the decoded
        # view over the partial blocks (row-identical)
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
