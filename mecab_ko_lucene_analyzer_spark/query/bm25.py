"""BM25 top-k scoring (I7 / Q1).

Lucene-parameter BM25 (k1=1.2, b=0.75; the defaults pinned by the
reference's Lucene 6.3.0/8.5.1 deps, ``pom.xml:52``)::

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(t,d) = idf(t) * tf / (tf + k1 * (1 - b + b * dl/avgdl))

(the Lucene-8 form without the constant (k1+1) numerator factor —
rank-identical to the Lucene-6 form, which scales every term by k1+1).

Two engines that must agree rank-identically (tested):

* :func:`bm25_topk` — the distributed Spark plan: broadcast the query
  terms into the postings scan (predicate pushdown on ``term``), join
  stats, partial-aggregate per doc, global top-k via ``orderBy.limit``
  (Spark executes this as per-partition TakeOrdered + driver merge,
  never a full sort).
* :func:`bm25_oracle` — pure-Python brute force over collected rows.

Tie-break everywhere: score desc, doc_id asc (deterministic ranks).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..index.build import InvertedIndex, K1, B

__all__ = [
    "bm25_scored",
    "bm25_topk",
    "filtered_topk",
    "bm25_search_after",
    "keyset_page",
    "boosted_bm25_topk",
    "bm25_oracle",
    "bm25_partial",
    "lucene_idf",
    "score_expr",
]


def lucene_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_partial(idf, tf, dl, avgdl: float, k1: float = K1, b: float = B):
    """One (term, doc) partial score, ``idf * tf / (tf + k1 * (1 - b +
    b * dl / avgdl))``, on floats or float64 arrays. Every driver-side
    scorer, the distributed block decode, ``_explain`` and the block
    impacts (``idf=1.0``: ``1.0 * tf`` is ``tf`` exactly) evaluate this
    one expression, so they agree bit for bit."""
    return idf * tf / (tf + k1 * (1 - b + b * dl / avgdl))


def score_expr(k1: float = K1, b: float = B):
    """Column expression for one (term, doc) partial score; inputs are
    columns ``idf``, ``tf``, ``doc_len``, ``avgdl``."""
    tf = F.col("tf").cast("double")
    norm = tf / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.col("avgdl")))
    return F.col("idf") * norm


def bm25_scored(
    index: InvertedIndex,
    query_terms: list[str],
    k1: float = K1,
    b: float = B,
    min_should_match: int = 0,
) -> DataFrame:
    """Every matching doc's BM25 score ``(doc_id, score)`` — the
    pre-top-k relation :func:`bm25_topk` cuts and
    :func:`boosted_bm25_topk` blends (a doc-dependent boost must apply
    BEFORE the top-k cut or boosted tail docs can never surface).

    ``min_should_match`` keeps only docs matching at least that many
    DISTINCT query terms (Elasticsearch's ``minimum_should_match`` for
    an OR query — the precision knob between pure-OR recall and
    pure-AND strictness). The count rides the existing per-doc hash
    aggregate (postings carry one row per (term, doc), so it is a
    plain ``count(*)``) and the filter applies post-aggregate — zero
    extra exchanges, and at scale it CUTS the top-k heap's input.

    Plan shape: postings are filtered with an IN-list on ``term``
    (pushed to the scan — the posting store is term-partitioned at
    scale), idf/corpus stats arrive via *broadcast* joins (tiny dims),
    the per-doc sum is one partial+final hash aggregate.
    """
    spark = index.postings.sparkSession
    if not query_terms:
        return spark.createDataFrame([], "doc_id long, score double")
    corpus = index.corpus_stats.first()
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]

    terms_df = spark.createDataFrame([(t,) for t in set(query_terms)], "term string")
    idf_df = (
        index.term_stats.join(F.broadcast(terms_df), "term")
        .withColumn(
            "idf",
            F.log1p((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .select("term", "idf")
    )
    matched = index.postings.filter(F.col("term").isin(list(set(query_terms))))
    if "doc_len" not in matched.columns:
        # older row-postings without the denormalized doc_len
        matched = matched.join(index.doc_stats, "doc_id")
    scored = (
        matched
        .join(F.broadcast(idf_df), "term")
        .withColumn("avgdl", F.lit(avgdl))
        .withColumn("partial", score_expr(k1, b))
        .groupBy("doc_id")
        .agg(
            F.sum("partial").alias("score"),
            F.count(F.lit(1)).alias("_n_matched"),
        )
    )
    if min_should_match > 1:
        scored = scored.filter(F.col("_n_matched") >= min_should_match)
    return scored.select("doc_id", "score")


def bm25_topk(
    index: InvertedIndex,
    query_terms: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    min_should_match: int = 0,
) -> DataFrame:
    """Distributed scatter-gather BM25: returns ``(doc_id, score)``,
    rank-deterministic (score desc, doc_id asc), ``k`` rows max.
    Top-k is TakeOrdered over :func:`bm25_scored`, not a global sort.
    """
    return (
        bm25_scored(index, query_terms, k1, b, min_should_match)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def filtered_topk(
    index: InvertedIndex,
    query_terms: list[str],
    filter_docs: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
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
    scored = bm25_scored(index, query_terms, k1, b, min_should_match)
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


def bm25_search_after(
    index: InvertedIndex,
    query_terms: list[str],
    after: tuple[float, int] | None = None,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    min_should_match: int = 0,
) -> DataFrame:
    """Disjunctive BM25 page AFTER the ``(score, doc_id)`` cursor —
    :func:`bm25_scored` + :func:`keyset_page`. ``after=None`` is page
    one (≡ :func:`bm25_topk`)."""
    scored = bm25_scored(index, query_terms, k1, b, min_should_match)
    s, d = after if after is not None else (None, None)
    return keyset_page(scored, s, d, k)


def boosted_bm25_topk(
    index: InvertedIndex,
    doc_boosts: DataFrame,
    query_terms: list[str],
    w_boost: float = 0.5,
    k: int = 10,
    k1: float = K1,
    b: float = B,
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
    cannot ride WAND's upper-bound pruning — this is a distributed-path
    scorer by construction. The join is doc_id-keyed against a
    |docs|-sized narrow relation; at 10^12 docs store ``doc_boosts``
    bucketed by doc_id next to doc-partitioned postings for a
    co-located join.
    """
    blended = (
        bm25_scored(index, query_terms, k1, b)
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
    k1: float = K1,
    b: float = B,
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
            s += idf * tf / (tf + k1 * (1 - b + b * doc_len[d] / avgdl))
        if s > 0.0:
            scores[d] = s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]
