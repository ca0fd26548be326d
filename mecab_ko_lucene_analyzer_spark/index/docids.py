"""Deterministic dense docID assignment (I1).

``monotonically_increasing_id`` is not stable across retries and
``row_number()`` over a global order collapses to one partition; the
scalable deterministic scheme is the classic two-pass rank:

1. range-partition + sort by the natural key (``url``) — a single
   sorted shuffle that also co-locates the corpus for downstream
   per-partition posting builds;
2. count rows per partition (tiny driver-side cumsum → base offsets);
3. per-partition sequential ids on top of the base offset
   (``mapInArrow``/``mapInPandas``, order within the sorted partition
   is defined) — ``index/build.py::corpus_partials`` with
   ``order="url"``.

docID therefore equals the global rank of ``url`` — reproducible under
any cluster size, retry, or input split, which is what makes the build
resumable (I6) and docID-delta encoding meaningful.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["partition_offsets", "range_partition_offsets"]


def range_partition_offsets(
    df: DataFrame,
    key: str,
    weight: str | None = None,
    num_partitions: int | None = None,
    persist: bool = True,
) -> tuple[DataFrame, dict[int, int], int]:
    """Shared first half of the two-pass global prefix scheme: range-
    partition + sort ``df`` by ``key`` (adding a ``_pid`` column) and
    return it with ``offsets[pid]`` = the total of ``weight`` (row
    count when None) over all earlier partitions, and the grand total.
    ``index/build.py``'s url-ordered docID scaffold consumes it for
    global ranks; ``functions.curation.pack_manifest`` for the global
    token-offset cumsum — one home for the subtle invariant instead of
    two copies.

    ``persist`` pins the range-shuffled relation (memory-and-disk) so
    the offsets pass and the caller's consume pass share ONE shuffle —
    and, critically, see the *same* range boundaries (RangePartitioner
    samples per-job otherwise). The caller unpersists it once its last
    consume pass has run. The collect is one row per partition, never
    per row of ``df``."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    parts = df.repartitionByRange(num_partitions, key).sortWithinPartitions(key)
    parts = parts.withColumn("_pid", F.spark_partition_id())
    if persist:
        from pyspark import StorageLevel

        parts = parts.persist(StorageLevel.MEMORY_AND_DISK)
    return (parts, *partition_offsets(parts, weight))


def partition_offsets(
    parts: DataFrame, weight: str | None = None
) -> tuple[dict[int, int], int]:
    """``(offsets, total)`` over a relation carrying a ``_pid`` column:
    ``offsets[pid]`` = the total of ``weight`` (row count when None)
    over all earlier partitions. One aggregate job, one collected row
    per partition."""
    agg = F.count("*") if weight is None else F.sum(weight)
    sums = {
        r["_pid"]: r["w"]
        for r in parts.groupBy("_pid").agg(agg.alias("w")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    return offsets, acc
