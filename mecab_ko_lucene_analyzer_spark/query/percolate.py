"""Percolator — reverse search (the ES ``percolate`` query): match
incoming DOCUMENTS against a table of STORED QUERIES.

Forward search asks "which docs match this query?"; percolation asks
"which stored queries match this doc?" — the alerting/routing shape a
crawl pipeline wants (saved searches firing on new pages, topic
routers fanning documents to downstream consumers, contamination
watchlists flagging matches at ingest time).

Model: a stored query is ``(query_id, terms array<string>)`` — the
analyzed term set of a registered query. A doc matches conjunctively
when it contains EVERY term (ES percolator semantics for a ``match``
query with ``operator: and``), or disjunctively with
``min_should_match`` of them.

Plan shape at 10^12 docs/day ingest: the registry explodes to
(term, query_id, n_terms); the doc side is one distinct-token
projection; matching is one hash aggregate keyed (doc_id, query_id)
counting matched terms. The registry side's join strategy SWITCHES ON
ITS SIZE (ES stores percolator queries as an *index* — a real alerting
workload can hold 10^5–10^6 stored queries): a registry whose
Catalyst size estimate times the explode's margin fits
``spark.sql.autoBroadcastJoinThreshold`` is broadcast (zero extra
corpus-side exchange — the common saved-searches case); a larger or
unknown-size one joins as a plain equi-join with the
planner/AQE free to pick the strategy, so an unbounded registry is
never force-broadcast (the same discipline the r4→r5 rounds applied to
every corpus-unbounded relation). Either way the aggregate's key space
is bounded by (docs containing any watched term) x (queries watching
them) — the selective case percolation exists for.

Reference anchor: the reference's analyzed AND query over extracted
tokens (`DanawaSearchQueryBuilder.java:266-282` bool-mode plumbing)
is exactly the stored-query shape percolated here.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..plans import optimized_plan_probe

__all__ = ["percolate"]


#: bound on the exploded registry's bytes over the registry's: a term
#: row (8-byte null bitset, three 8-byte slots, the term's bytes P) is
#: at most (32 + P) / (8 + P) times the term's share of its array
#: (8-byte offset/length slot, the bytes P), under 3 for any non-empty
#: term; Catalyst's estimate of the explode keeps the pre-explode size
_EXPLODE_MARGIN = 3


def _registry_fits_broadcast(queries: DataFrame) -> bool:
    """True when the exploded registry fits
    ``spark.sql.autoBroadcastJoinThreshold`` (driver-side statistics
    walk — no job): when the registry plan's Catalyst size estimate
    times :data:`_EXPLODE_MARGIN` fits. A ``LocalRelation``
    (``createDataFrame`` over pandas) estimates its exact bytes, so a
    small one broadcasts. Unknown-size plans — an RDD-backed registry
    (``createDataFrame`` over a Python list or an RDD, which may grow
    without bound) included — estimate as ``defaultSizeInBytes``
    (huge), so they land on the safe, non-broadcast side; a
    non-positive threshold (auto-broadcast disabled) or a plan the
    private API cannot read likewise means never broadcast."""
    from ..functions.partitioning import _parse_bytes

    thresh = _parse_bytes(
        queries.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    if thresh <= 0:
        return False
    est = optimized_plan_probe(queries, lambda p: int(p.stats().sizeInBytes()), -1)
    return 0 <= est and est * _EXPLODE_MARGIN <= thresh


def percolate(
    doc_tokens: DataFrame,
    queries: DataFrame,
    min_should_match: int | None = None,
    broadcast_registry: bool | None = None,
) -> DataFrame:
    """``(doc_id, query_id, n_matched)`` — stored queries matching each
    doc.

    ``doc_tokens``: ``(doc_id, term)`` — the doc side's analyzed
    tokens (duplicates fine; matching is per DISTINCT term).
    ``queries``: ``(query_id, terms array<string>)`` — the stored-query
    registry. Default (``min_should_match=None``) is
    conjunctive: a query matches only when ALL its terms appear
    (``n_matched == size(terms)``); pass an integer for the
    disjunctive ES ``minimum_should_match`` law. Queries with empty
    term arrays never match (ES rejects empty percolator queries).
    ``broadcast_registry``: None (default) broadcasts the exploded
    registry only when its size estimate, with the explode's margin,
    fits the session's auto-broadcast threshold (see
    :func:`_registry_fits_broadcast`);
    a large registry runs as a plain equi-join instead — never a
    forced broadcast. Pass True/False to override. The result rows
    are identical on every path. Output is deterministic: one row per
    (doc, query) pair that matches, ``n_matched`` = distinct matched
    terms."""
    q = (
        queries.filter(F.size("terms") > 0)
        .select(
            "query_id",
            # distinct size: a stored array with repeated terms must
            # still be satisfiable conjunctively
            F.size(F.array_distinct("terms")).alias("_n_terms"),
            F.explode(F.array_distinct("terms")).alias("term"),
        )
    )
    if broadcast_registry is None:
        broadcast_registry = _registry_fits_broadcast(queries)
    matched = (
        doc_tokens.select("doc_id", "term")
        .distinct()
        .join(F.broadcast(q) if broadcast_registry else q, "term")
        .groupBy("doc_id", "query_id", "_n_terms")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    if min_should_match is None:
        matched = matched.filter(F.col("n_matched") == F.col("_n_terms"))
    else:
        matched = matched.filter(
            F.col("n_matched") >= int(max(min_should_match, 1))
        )
    return matched.select("doc_id", "query_id", "n_matched")
