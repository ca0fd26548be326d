"""Incremental indexing via Structured Streaming.

The reference's bulk indexer is batch-pull (``DanawaBulkTextIndexer``);
for a continuously crawled corpus the Spark-native equivalent is a file
stream over the webpages table feeding per-microbatch partial blocks:

    readStream(webpages dir) → foreachBatch: ``corpus_partials`` (the
        batch build's tokenize kernel) → partials + doc_map deltas

Each microbatch writes a *partials delta* partitioned by ``batch_id``;
deltas are doc-disjoint (docIDs are assigned from a monotonically
increasing per-batch base recorded with the index), so the merged view
is a UNION ALL — the same property that makes the salted block merge
(I4) concatenation-safe. Compaction runs the batch build's stats+blocks
stage over the union, so it equals a batch build by construction.

No watermarks/session windows are needed: analysis is embarrassingly
parallel per document (SURVEY §2.5 streaming note).
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "incremental_index_stream",
    "read_incremental_postings",
    "compact_incremental",
    "serving_index_path",
    "mark_deleted",
]


def _fs_and_path(spark: SparkSession, path_str: str):
    """Resolve ``path_str`` through the Hadoop FileSystem API so the
    doc-base state lives WITH the index — local paths, ``file://``,
    ``hdfs://``, ``s3a://`` all work. (A driver-local ``os.path`` probe
    silently reads False on object stores and would restart doc bases
    at 0, breaking the doc-disjointness the union view depends on.)"""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return jpath.getFileSystem(hconf), jpath, jvm


def _read_doc_state(spark: SparkSession, state_path: str) -> dict:
    fs, jpath, jvm = _fs_and_path(spark, state_path)
    if not fs.exists(jpath):
        return {"next_doc_base": 0, "last_batch_id": None, "last_base": 0}
    stream = fs.open(jpath)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    st = json.loads(data)
    st.setdefault("last_batch_id", None)
    st.setdefault("last_base", 0)
    return st


def _batch_doc_base(spark: SparkSession, state_path: str, batch_id: int) -> int:
    """Doc base for ``batch_id`` — REPLAY-AWARE: foreachBatch is
    at-least-once, and a batch whose writes (and state save) completed
    but whose streaming checkpoint commit did not will be re-invoked
    with the SAME batch_id. Handing the replay the already-advanced
    base would duplicate every document under fresh doc_ids; handing it
    the recorded ``last_base`` reproduces the original ids exactly (the
    batch content is stable under the offset-log replay, and the writes
    are per-batch-partition overwrites — idempotent)."""
    st = _read_doc_state(spark, state_path)
    if st["last_batch_id"] == batch_id:
        return st["last_base"]
    return st["next_doc_base"]


def _save_doc_base(
    spark: SparkSession, state_path: str, batch_id: int, base: int, n_docs: int
) -> None:
    fs, jpath, _jvm = _fs_and_path(spark, state_path)
    out = fs.create(jpath, True)  # overwrite; parents auto-created
    try:
        out.write(
            json.dumps(
                {
                    "next_doc_base": base + n_docs,
                    "last_batch_id": batch_id,
                    "last_base": base,
                }
            ).encode("utf-8")
        )
    finally:
        out.close()


def incremental_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint_dir: str,
    mode: str = "standard",
    lang_filter: str | None = "ko",
    trigger_once: bool = True,
    tokens_fn=None,
    max_files_per_trigger: int | None = None,
    canonicalize: bool = False,
):
    """Start the incremental indexing stream. ``trigger_once`` processes
    the backlog and stops (the batch-catchup pattern); set False for a
    continuous micro-batch stream. ``tokens_fn`` overrides the
    tokenizer: a callable ``docs_df -> (doc_id, term, position, ...)``
    — e.g. a pure-Catalyst whitespace tokenizer, which makes the whole
    incremental pipeline exactly SQL-replicable (the driver oracle
    uses this to assert incremental ≡ batch postings).

    ``max_files_per_trigger`` bounds each micro-batch's file count —
    REQUIRED at crawl scale: an unbounded availableNow catch-up over a
    month of backlog would tokenize the whole backlog in one batch
    (one giant shuffle, one commit); bounding it makes catch-up a
    sequence of right-sized batches, each with its own doc-base commit
    (availableNow still drains the full backlog before stopping)."""
    from ..sources.webpages import WEBPAGES_SCHEMA

    reader = spark.readStream.schema(WEBPAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_dir)
    if canonicalize:
        # canonical url BEFORE anything keys on it: within-batch docID
        # ranks, the doc_map, and compact --latest-only upsert keys all
        # group by url — two crawls of one page under tracking-param /
        # default-port / fragment variants must converge on one key
        from ..functions.curation import canonical_url

        pages = pages.withColumn("url", canonical_url("url"))
    if lang_filter is not None:
        pages = pages.filter(F.col("lang") == lang_filter)
    state_path = f"{index_path}/_stream_state/doc_base.json"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..index.build import (
            _doc_map_df,
            _docid_partitions,
            _in_background,
            corpus_partials,
            partials_from_tokens,
        )

        spark = batch_df.sparkSession
        base = _batch_doc_base(spark, state_path, batch_id)
        # docID = base + rank of url within the batch (deterministic)
        if tokens_fn is None:
            partials, doc_map, n_docs, _, release = corpus_partials(
                batch_df, None, mode, 3, order="url", doc_base=base
            )
        else:
            # the same url-ranked docIDs; doc_len = the doc's token count
            _, parts, offsets, n_docs, release = _docid_partitions(
                batch_df, None, None, "url", base
            )
            docs = _doc_map_df(parts, offsets, "text")
            partials = partials_from_tokens(tokens_fn(docs))
            doc_map = docs.select("doc_id", "url")

        def write(df: DataFrame, name: str) -> None:
            # dynamic partition OVERWRITE of this batch's partition (not
            # append): foreachBatch replays the same batch_id after a
            # crash between the writes and the checkpoint commit, and an
            # append would land a second copy of every document —
            # overwrite makes the replay byte-idempotent (same base →
            # same doc_ids)
            w = df.withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite")
            w.option("partitionOverwriteMode", "dynamic").partitionBy(
                "batch_id"
            ).parquet(f"{index_path}/{name}")

        try:
            if n_docs == 0:
                return  # nothing to write; the doc base stays put
            with _in_background(lambda: write(doc_map, "doc_map_delta")):
                write(partials, "partials_delta")
        finally:
            release()
        _save_doc_base(spark, state_path, batch_id, base, n_docs)

    writer = (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _read_delta_partials(spark: SparkSession, index_path: str) -> DataFrame:
    from ..index.build import _READ_SCHEMAS

    path = f"{index_path}/partials_delta"
    return spark.read.schema(_READ_SCHEMAS["partials"]).parquet(path).drop("batch_id")


def read_incremental_postings(spark: SparkSession, index_path: str) -> DataFrame:
    """Merged postings view over all appended deltas (doc-disjoint →
    plain union; no re-aggregation needed), decoded from the partials
    deltas."""
    from ..index.build import postings_from_partials

    return postings_from_partials(_read_delta_partials(spark, index_path))


def _pointer_path(index_path: str) -> str:
    return f"{index_path}/serving.json"


def _read_pointer(spark: SparkSession, index_path: str) -> dict | None:
    """Current serving pointer, or None before the first compaction.
    Retries briefly: the flip is delete+rename, and a reader can land
    in the sub-millisecond window between the two (HDFS rename is
    atomic; single-object PUT on object stores likewise — the retry
    covers local-FS semantics)."""
    import time as _time

    fs, jpath, jvm = _fs_and_path(spark, _pointer_path(index_path))
    for attempt in range(10):
        if fs.exists(jpath):
            # the open itself sits INSIDE the retried block: on local
            # FS the flip is delete-then-rename, and the file can
            # vanish between the exists() probe and the open()
            stream = None
            try:
                stream = fs.open(jpath)
                data = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
                return json.loads(data)
            except Exception:
                if attempt == 9:
                    raise
            finally:
                if stream is not None:
                    stream.close()
        elif not fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{index_path}/versions")
        ):
            return None  # never compacted — not a race
        _time.sleep(0.05)
    return None


def _flip_pointer(spark: SparkSession, index_path: str, version: int, path: str):
    """Atomically point readers at the freshly built version: write the
    pointer to a temp file, then rename over the old one. Old version
    directories are left for in-flight readers (prune externally once
    drained)."""
    final = _pointer_path(index_path)
    tmp = f"{final}.tmp.{version}"
    fs, jtmp, jvm = _fs_and_path(spark, tmp)
    out = fs.create(jtmp, True)
    try:
        out.write(json.dumps({"version": version, "path": path}).encode("utf-8"))
    finally:
        out.close()
    jfinal = jvm.org.apache.hadoop.fs.Path(final)
    if not fs.rename(jtmp, jfinal):
        fs.delete(jfinal, False)
        if not fs.rename(jtmp, jfinal):
            raise IOError(f"could not flip serving pointer to v{version}")


def serving_index_path(spark: SparkSession, index_path: str) -> str | None:
    """Directory of the CURRENT serving compaction (stable even while
    the next compaction is being built), or None before the first."""
    ptr = _read_pointer(spark, index_path)
    return ptr["path"] if ptr else None


def mark_deleted(
    spark: SparkSession,
    index_path: str,
    urls,
    canonicalize: bool = False,
) -> int:
    """Delete-by-url tombstones (the ES DELETE-doc API next to the
    upsert the reference's indexer drives; S8's delete-all is the
    degenerate whole-index case). Appends ``(url, below_doc_id)`` rows
    to ``{index_path}/deletes_delta`` — nothing is rewritten on the
    hot path; the NEXT :func:`compact_incremental` folds tombstones in
    and the served stats (df/avgdl/n_docs) describe the post-delete
    corpus.

    ``below_doc_id`` is the doc-base horizon at delete time: the
    tombstone kills every crawl version that EXISTED when the delete
    was issued (doc_id < horizon — batch bases increase
    monotonically), while a re-crawl ingested AFTER the delete gets a
    doc_id ≥ horizon and resurrects the page — ES's
    delete-then-reindex ordering semantics, replay-safe because the
    horizon is captured once, here, not re-derived at compaction.

    ``urls`` is a list of url strings or a DataFrame with a ``url``
    column; ``canonicalize`` runs the same url canonicalization the
    ingest path applies, so deletes issued against raw crawl urls key
    correctly against a ``canonicalize=True`` ingest. Returns the
    horizon."""
    state_path = f"{index_path}/_stream_state/doc_base.json"
    horizon = int(_read_doc_state(spark, state_path)["next_doc_base"])
    if isinstance(urls, DataFrame):
        df = urls.select("url")
    else:
        df = spark.createDataFrame([(u,) for u in urls], "url string")
    if canonicalize:
        from ..functions.curation import canonical_url

        df = df.withColumn("url", canonical_url("url"))
    df.withColumn("below_doc_id", F.lit(horizon)).write.mode(
        "append"
    ).parquet(f"{index_path}/deletes_delta")
    return horizon


def _read_deletes(spark: SparkSession, index_path: str) -> DataFrame | None:
    """Tombstone relation, or None when no delete was ever issued —
    existence-checked through the Hadoop FS API (object-store-safe,
    like the doc-base state)."""
    path = f"{index_path}/deletes_delta"
    fs, jpath, _ = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return None
    return spark.read.parquet(path)


def compact_incremental(
    spark: SparkSession,
    index_path: str,
    out_path: str | None = None,
    hot_min_df: int = 1000,
    latest_only: bool = False,
) -> str:
    """Fold all appended deltas into a FULL serving index — partials,
    doc_map, term/doc/corpus stats, and compressed block-max postings —
    at ``out_path`` (default: a fresh versioned directory, below). The
    stream appends doc-disjoint deltas cheaply; compaction periodically
    rebuilds the WAND-servable block structures over their union.

    Deltas are doc-disjoint by construction (per-batch doc bases), so
    the union of the partials deltas IS the corpus partials. Compaction
    writes it to ``partials`` and runs the batch build's own stats+blocks
    stage (``index/build.py::_stats_and_blocks``): every table holds
    the same rows as a from-scratch ``doc_order="url"`` batch build over
    the same corpus, block payloads byte for byte
    (``test_compact_incremental_equals_batch_build``). The split of
    those rows into part files can differ, as the blocks exchange's
    range sampler is seeded from the RDD id.

    Serving-concurrency contract (round-3 verdict ask #4): with the
    default ``out_path=None``, each compaction builds into a FRESH
    versioned directory (``{index_path}/versions/v{N}``) and then flips
    the ``serving.json`` pointer atomically — a reader that resolved
    ``serving_index_path`` before the flip keeps reading the old,
    fully-intact version; one that resolves after sees the new one,
    complete. In-place overwrite of a live serving dir (plain parquet
    has no snapshot isolation) never happens. Passing an explicit
    ``out_path`` keeps the direct-overwrite behavior for offline /
    test targets.

    ``latest_only`` gives the reference's upsert-by-``_id`` semantics
    (ES indexes a re-crawled page over the old one; ``SearchUtil.java``
    upsertData): among deltas sharing a url, only the highest doc_id —
    the latest arrival, since batch doc bases increase monotonically —
    survives into the compacted index. Superseded doc_ids drop from
    postings, doc_map, AND the stats (df/avgdl must describe the
    served corpus, not the crawl history). Costs one url-window pass
    over doc_map, a decode of the partials, a doc_id semi-join and a
    re-pack — all in this maintenance job, nothing on the ingest path.
    Default False preserves append-only semantics (every crawl version
    served), which is also what the from-scratch-equality pin assumes.

    Tombstones from :func:`mark_deleted` (when any exist) always fold
    in: doc_map rows below their url's delete horizon drop before the
    upsert window, postings semi-join the surviving doc set, and the
    recomputed stats describe the post-delete corpus.

    Raises ``RuntimeError`` when ``{index_path}/postings_delta`` (the
    row-format deltas of earlier ingests) exists.
    """
    from ..index.build import (
        _build_confs,
        _in_background,
        _stats_and_blocks,
        partials_from_postings,
        postings_from_partials,
    )

    row_deltas = f"{index_path}/postings_delta"  # written by earlier ingests
    fs, jpath, _ = _fs_and_path(spark, row_deltas)
    if fs.exists(jpath):
        raise RuntimeError(
            f"{row_deltas} holds row-format postings deltas from an earlier "
            "ingest; compaction reads only partials_delta and would drop "
            "those documents. Re-ingest the input into a fresh index path."
        )
    version = None
    if out_path is None:
        ptr = _read_pointer(spark, index_path)
        version = (ptr["version"] + 1) if ptr else 1
        out = f"{index_path}/versions/v{version:06d}"
    else:
        out = out_path
        # an earlier compaction layout's row postings here would be
        # served by load_index ahead of the new partials
        fs, jpath, _ = _fs_and_path(spark, f"{out}/postings")
        fs.delete(jpath, True)
    partials = _read_delta_partials(spark, index_path)
    doc_map = spark.read.parquet(f"{index_path}/doc_map_delta").drop("batch_id")
    deletes = _read_deletes(spark, index_path)
    if deletes is not None:
        # fold tombstones FIRST: a doc_id below its url's delete
        # horizon never reaches the upsert window (multiple deletes of
        # one url collapse to the max horizon — the latest delete wins)
        tomb = deletes.groupBy("url").agg(
            F.max("below_doc_id").alias("_below")
        )
        doc_map = (
            doc_map.join(tomb, "url", "left")
            .filter(
                F.col("_below").isNull()
                | (F.col("doc_id") >= F.col("_below"))
            )
            .drop("_below")
        )
    if latest_only:
        from pyspark.sql import Window

        # one window partition per url = one page's crawl history;
        # bounded by recrawl frequency, no corpus-wide hot key
        doc_map = (
            doc_map.withColumn(
                "_latest", F.max("doc_id").over(Window.partitionBy("url"))
            )
            .filter(F.col("doc_id") == F.col("_latest"))
            .drop("_latest")
        )
    if latest_only or deletes is not None:
        # partials are per-term doc runs: the doc-level filter runs on
        # the decoded rows, which re-pack into the one partials format
        partials = partials_from_postings(
            postings_from_partials(partials).join(
                doc_map.select("doc_id"), "doc_id", "left_semi"
            )
        )
    with _build_confs(spark):
        with _in_background(
            lambda: doc_map.write.mode("overwrite").parquet(f"{out}/doc_map")
        ):
            partials.write.mode("overwrite").parquet(f"{out}/partials")
        _stats_and_blocks(spark, out, hot_min_df=hot_min_df)
    if version is not None:
        _flip_pointer(spark, index_path, version, out)
    return out
