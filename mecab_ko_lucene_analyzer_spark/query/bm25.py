"""BM25 scoring (I7 / Q1): the one place the BM25 arithmetic is written.

Lucene-parameter BM25 (k1=1.2, b=0.75; the defaults pinned by the
reference's Lucene 6.3.0/8.5.1 deps, ``pom.xml:52``, held as the
constants ``index/build.py::K1``/``B``)::

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(t,d) = idf(t) * tf / (tf + k1 * (1 - b + b * dl/avgdl))

(the Lucene-8 form without the constant (k1+1) numerator factor —
rank-identical to the Lucene-6 form, which scales every term by k1+1).

One kernel per backend, in one operation order, ``(idf * tf) / den``:

* numpy / float — :func:`lucene_idf` and :func:`bm25_partial`: the
  driver scorers, the distributed block decode (``router.py``), the
  served ``_explain`` and the block impacts (``index/blocks.py``);
* Spark Column — :func:`idf_col` and :func:`bm25_partial_col`: every
  DataFrame scorer, through :func:`term_partials` (the IN-pruned
  postings scan joined to a broadcast idf) or directly where a plan
  pools its own tfs (``bm25f.py``, the contract entry).

:func:`bm25_oracle` is the pure-Python brute-force reference the
golden tests compare against.

Tie-break everywhere: score desc, doc_id asc (deterministic ranks).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..index.build import InvertedIndex, K1, B

__all__ = [
    "term_partials",
    "matched_scores",
    "bm25_scored",
    "bm25_topk",
    "filtered_topk",
    "keyset_page",
    "boosted_bm25_topk",
    "bm25_oracle",
    "bm25_partial",
    "bm25_partial_col",
    "lucene_idf",
    "idf_col",
]


def lucene_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_partial(idf, tf, dl, avgdl: float):
    """One (term, doc) partial score, ``idf * tf / (tf + k1 * (1 - b +
    b * dl / avgdl))``, on floats or float64 arrays. Every driver-side
    scorer, the distributed block decode, ``_explain`` and the block
    impacts (``idf=1.0``: ``1.0 * tf`` is ``tf`` exactly) evaluate this
    one expression, so they agree bit for bit."""
    return idf * tf / (tf + K1 * (1 - B + B * dl / avgdl))


def idf_col(n_docs, df) -> Column:
    """:func:`lucene_idf` as a Column; ``n_docs`` and ``df`` are
    Columns or numbers. Spark's ``log1p`` may differ from
    ``math.log(1 + x)`` in the last bit."""
    n_docs, df = F.lit(n_docs), F.lit(df)
    return F.log1p((n_docs - df + 0.5) / (df + 0.5))


def bm25_partial_col(idf, tf, dl, avgdl) -> Column:
    """:func:`bm25_partial` as a Column, in its operation order; every
    argument is a Column or a number. Bit-equal to the numpy kernel
    on the same double inputs (tested)."""
    idf, tf, dl, avgdl = (F.lit(x) for x in (idf, tf, dl, avgdl))
    return idf * tf / (tf + F.lit(K1) * (F.lit(1 - B) + F.lit(B) * dl / avgdl))


def term_partials(index: InvertedIndex, query_terms: list[str]) -> DataFrame:
    """Every (term, doc) BM25 partial of ``query_terms``:
    ``(term, doc_id, tf, df, idf, partial)`` — the relation every
    DataFrame BM25 scorer aggregates or selects.

    Plan shape: postings are filtered with an IN-list on ``term``
    (pushed to the scan — the posting store is term-partitioned at
    scale) and the idf of the same IN-pruned ``term_stats`` arrives
    via a *broadcast* join (a query-sized dim); no exchange of its
    own. The corpus scalars are one driver read of ``corpus_stats``."""
    terms = sorted(set(query_terms))
    corpus = index.corpus_stats.first()
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    idf_df = index.term_stats.filter(F.col("term").isin(terms)).select(
        "term", "df", idf_col(n_docs, F.col("df")).alias("idf")
    )
    matched = index.postings.filter(F.col("term").isin(terms))
    if "doc_len" not in matched.columns:
        # older row-postings without the denormalized doc_len
        matched = matched.join(index.doc_stats, "doc_id")
    partial = bm25_partial_col(
        F.col("idf"), F.col("tf").cast("double"), F.col("doc_len"), avgdl
    )
    return matched.join(F.broadcast(idf_df), "term").select(
        "term", "doc_id", "tf", "df", "idf", partial.alias("partial")
    )


def matched_scores(index: InvertedIndex, query_terms: list[str]) -> DataFrame:
    """Per matching doc ``(doc_id, score, n_matched)``: the BM25 sum of
    :func:`term_partials` and the number of DISTINCT query terms it
    matches (postings carry one row per (term, doc), so the count is a
    plain ``count(*)``) — one partial+final hash aggregate. Empty
    ``query_terms`` give the empty relation."""
    if not query_terms:
        return index.postings.sparkSession.createDataFrame(
            [], "doc_id long, score double, n_matched long"
        )
    return (
        term_partials(index, query_terms)
        .groupBy("doc_id")
        .agg(
            F.sum("partial").alias("score"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )


def bm25_scored(
    index: InvertedIndex,
    query_terms: list[str],
    min_should_match: int = 0,
) -> DataFrame:
    """Every matching doc's BM25 score ``(doc_id, score)`` — the
    pre-top-k relation :func:`bm25_topk` cuts and
    :func:`boosted_bm25_topk` blends (a doc-dependent boost must apply
    BEFORE the top-k cut or boosted tail docs can never surface).

    ``min_should_match`` keeps only docs matching at least that many
    DISTINCT query terms (Elasticsearch's ``minimum_should_match`` for
    an OR query — the precision knob between pure-OR recall and
    pure-AND strictness). The count rides the per-doc hash aggregate
    of :func:`matched_scores` and the filter applies post-aggregate —
    zero extra exchanges, and at scale it CUTS the top-k heap's input.
    """
    scored = matched_scores(index, query_terms)
    if min_should_match > 1:
        scored = scored.filter(F.col("n_matched") >= min_should_match)
    return scored.select("doc_id", "score")


def bm25_topk(
    index: InvertedIndex,
    query_terms: list[str],
    k: int = 10,
    min_should_match: int = 0,
) -> DataFrame:
    """Distributed scatter-gather BM25: returns ``(doc_id, score)``,
    rank-deterministic (score desc, doc_id asc), ``k`` rows max.
    Top-k is TakeOrdered over :func:`bm25_scored`, not a global sort.
    """
    return (
        bm25_scored(index, query_terms, min_should_match)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def filtered_topk(
    index: InvertedIndex,
    query_terms: list[str],
    filter_docs: DataFrame,
    k: int = 10,
    min_should_match: int = 0,
) -> DataFrame:
    """ES bool FILTER context: BM25-scored ``query_terms`` hits
    restricted to docs present in ``filter_docs`` (any ``(doc_id)``
    relation — a pushed range predicate over crawl metadata, a
    language cut, a quality tier). Filters match but NEVER score
    (exactly ES: filter clauses contribute 0 and are cacheable), so
    the surviving docs keep the identical scores the unfiltered query
    would give them — tested law.

    Plan shape: the score side is :func:`bm25_scored` (term-pruned
    scan + one hash agg); the filter applies as a LEFT SEMI join on
    doc_id BEFORE the top-k cut (a post-cut filter would silently
    return < k rows). At 10^12 docs the filter side is a pushed-down
    predicate scan of the metadata table — AQE picks broadcast when
    the filter is selective, hash otherwise; nothing here forces a
    plan."""
    scored = bm25_scored(index, query_terms, min_should_match)
    return (
        scored.join(filter_docs.select("doc_id"), "doc_id", "semi")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def keyset_page(
    scored: DataFrame,
    after_score: float | None = None,
    after_doc_id: int | None = None,
    k: int = 10,
) -> DataFrame:
    """Elasticsearch ``search_after`` — keyset pagination over the
    engine's total order (score desc, doc_id asc) for ANY
    ``(doc_id, score)`` relation (plain BM25, boosted, BM25F).

    ``after_*`` is the previous page's LAST row; ``None`` means the
    first page. The page is every row strictly after the cursor in
    the total order: ``score < s OR (score = s AND doc_id > d)`` —
    the doc_id tie-break makes the cursor unambiguous even inside a
    run of equal scores.

    Why this exists next to ``offset`` paging (Q8): offset depth D
    costs a per-partition top-(D+k) heap and a driver merge of
    P·(D+k) rows — at 10^12 docs page 10,000 collects millions of
    rows to return 10. The keyset filter is pushed below the
    TakeOrdered, so every page costs exactly the first page: a
    pruned scan + per-partition top-k + a k-row driver merge,
    depth-independent (the same reason ES deprecated deep
    ``from`` in favor of ``search_after``)."""
    if after_score is not None:
        if after_doc_id is None:
            raise ValueError("after_doc_id is required with after_score")
        scored = scored.filter(
            (F.col("score") < F.lit(float(after_score)))
            | (
                (F.col("score") == F.lit(float(after_score)))
                & (F.col("doc_id") > F.lit(int(after_doc_id)))
            )
        )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))


def boosted_bm25_topk(
    index: InvertedIndex,
    doc_boosts: DataFrame,
    query_terms: list[str],
    w_boost: float = 0.5,
    k: int = 10,
) -> DataFrame:
    """BM25 blended with a per-document static quality prior —
    ``score' = bm25 + w·boost`` — the classic web-search combination of
    text relevance with link centrality (PageRank; Brin & Page §4.5.1
    combine exactly these two signals). ``doc_boosts`` is
    ``(doc_id, boost)``, e.g. ``functions.webgraph.doc_boost_table``'s
    log-centrality of the page's host; docs absent from it blend with
    boost 0 (no link evidence ≠ negative evidence — the
    ``jobs/curate.py --host-ranks`` convention).

    The blend joins BEFORE the top-k cut (a boost-heavy doc outside the
    text-only top k must be able to surface), so the additive prior
    cannot ride MaxScore's upper-bound pruning — this is a distributed-path
    scorer by construction. The join is doc_id-keyed against a
    |docs|-sized narrow relation; at 10^12 docs store ``doc_boosts``
    bucketed by doc_id next to doc-partitioned postings for a
    co-located join.
    """
    blended = (
        bm25_scored(index, query_terms)
        .join(doc_boosts.select("doc_id", "boost"), "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("score")
                + F.lit(float(w_boost))
                * F.coalesce(F.col("boost"), F.lit(0.0))
            ).alias("score"),
        )
    )
    return blended.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_oracle(
    token_lists: dict[int, list[str]],
    query_terms: list[str],
    k: int = 10,
) -> list[tuple[int, float]]:
    """Brute-force reference scorer over in-memory token lists
    (doc_id → terms). Defines expected output for the golden tests."""
    n = len(token_lists)
    if n == 0:
        return []
    doc_len = {d: len(ts) for d, ts in token_lists.items()}
    avgdl = sum(doc_len.values()) / n
    uniq = sorted(set(query_terms))
    df = {t: sum(1 for ts in token_lists.values() if t in ts) for t in uniq}
    scores: dict[int, float] = {}
    for d, ts in token_lists.items():
        s = 0.0
        for t in uniq:
            tf = ts.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = lucene_idf(n, df[t])
            s += idf * tf / (tf + K1 * (1 - B + B * doc_len[d] / avgdl))
        if s > 0.0:
            scores[d] = s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]
