"""Search-time aggregations (Elasticsearch-style facets).

The reference ships inside an Elasticsearch plugin, and the product
searches it powers are facet-heavy: every query page shows hit counts
grouped by category / maker / price band next to the ranked hits. ES
computes those as ``aggregations`` over the full *matched doc set*
(not just the top-k page). This module supplies the two workhorse
shapes over the built index:

* :func:`facet_terms` — ES ``terms`` aggregation: the top-k attribute
  values among matching docs by document count.
* :func:`date_histogram` — ES ``date_histogram``: matching-doc counts
  per calendar bucket of a timestamp attribute.

Both run over :func:`matching_docs`, the disjunctive match set the
BM25 scorer also starts from (``query/bm25.py::bm25_scored``), with
the same ``min_should_match`` precision knob.

Plan shape at 10^12 docs: the postings scan is pruned with a pushed
IN-list on ``term`` (term-partitioned store → partition pruning), the
match set is one partial+final hash aggregate, the attribute arrives
via ONE doc_id hash join (both sides huge → AQE picks sort-merge;
neither side is forced broadcast), and the facet itself is a
map-side-combined count per value followed by a TakeOrdered gather.
No driver materialization anywhere — the only driver rows are the
final k buckets.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..index.build import InvertedIndex

__all__ = [
    "matching_docs",
    "facet_terms",
    "date_histogram",
    "stats_agg",
    "percentiles_agg",
    "cardinality_agg",
    "histogram_agg",
    "sort_topk",
    "collapse_topk",
    "significant_terms",
    "sampler_significant_terms",
    "rare_terms_agg",
    "multi_terms_agg",
    "top_hits_agg",
    "range_key",
    "range_agg",
    "extended_stats_agg",
    "value_count_agg",
    "weighted_avg_agg",
    "composite_agg",
    "filters_agg",
    "adjacency_matrix_agg",
    "terms_set_topk",
    "terms_set_scored",
    "date_range_agg",
    "missing_agg",
]

#: ES ``percentiles`` default percent set
DEFAULT_PERCENTS = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)

# date_trunc units Spark and ANSI SQL agree on (lowercase canonical)
_INTERVALS = frozenset(
    {"hour", "day", "week", "month", "quarter", "year"}
)


def matching_docs(
    index: InvertedIndex,
    query_terms: list[str],
    min_should_match: int = 0,
) -> DataFrame:
    """``(doc_id)`` — every doc matching at least
    ``max(min_should_match, 1)`` DISTINCT query terms (the ES query
    context's disjunctive match set, the same relation BM25 scores).

    Postings carry one row per (term, doc), so the distinct-match
    count is a plain ``count(*)`` riding one hash aggregate over the
    IN-pruned scan."""
    spark = index.postings.sparkSession
    if not query_terms:
        return spark.createDataFrame([], "doc_id long")
    need = max(int(min_should_match), 1)
    matched = (
        index.postings.filter(F.col("term").isin(list(set(query_terms))))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_matched"))
    )
    if need > 1:
        matched = matched.filter(F.col("_matched") >= need)
    return matched.select("doc_id")


def facet_terms(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    attr_col: str,
    k: int = 10,
    min_doc_count: int = 1,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``terms`` aggregation: ``(value, doc_count)`` — the top ``k``
    values of ``attr_col`` among matching docs, ranked doc_count desc
    then value asc (ES's default ``_count`` desc order, with the key
    as the deterministic tiebreak; integer/string keys only, so ranks
    are bit-deterministic across engines).

    ``doc_attrs`` is any ``(doc_id, <attr_col>)`` relation — the
    doc_map's url host, a crawl metadata table, a joined product
    category column. NULL attribute values get no bucket (ES's
    ``missing`` bucket is opt-in and not modeled); ``min_doc_count``
    drops sparse tail buckets exactly like the ES knob."""
    docs = matching_docs(index, query_terms, min_should_match)
    out = (
        docs.join(doc_attrs.select("doc_id", attr_col), "doc_id")
        .filter(F.col(attr_col).isNotNull())
        .groupBy(F.col(attr_col).alias("value"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
    if min_doc_count > 1:
        out = out.filter(F.col("doc_count") >= int(min_doc_count))
    return out.orderBy(F.desc("doc_count"), F.asc("value")).limit(int(k))


def stats_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    attr_col: str,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``stats`` metric aggregation: ONE row
    ``(count, min, max, avg, sum)`` of a numeric attribute over the
    matching docs — the price/size summary strip next to a facet
    panel. NULL attribute values are excluded from every statistic
    (ES semantics: ``count`` is the number of VALUES collected, not
    of matching docs). A query matching nothing yields
    ``(0, NULL, NULL, NULL, NULL)``.

    Plan: the match set's one aggregate plus one doc_id join, then a
    single global aggregate — partial-combined, so the final exchange
    carries one row per upstream partition."""
    docs = matching_docs(index, query_terms, min_should_match)
    v = F.col(attr_col).cast("double")
    return (
        docs.join(doc_attrs.select("doc_id", attr_col), "doc_id")
        .filter(v.isNotNull())
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            F.avg(v).alias("avg"),
            F.sum(v).alias("sum"),
        )
    )


def percentiles_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    attr_col: str,
    percents: tuple[float, ...] = DEFAULT_PERCENTS,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``percentiles`` metric aggregation: ``(pct, value)`` rows —
    the named percentiles of a numeric attribute over the matching
    docs (latency/size distribution strips). NULL values are excluded;
    ``pct`` ascends.

    EXACT percentiles with linear interpolation (the ANSI
    ``percentile_cont`` law both Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` implement) — correct and cross-engine-
    deterministic, but it materializes the matched value multiset per
    group. ES itself refuses exactness at scale (t-digest); the 10^12
    serving path is ``F.approx_percentile`` with an error bound, which
    this function deliberately is NOT — it is the oracle-checkable
    baseline the approximate path is judged against."""
    docs = matching_docs(index, query_terms, min_should_match)
    v = F.col(attr_col).cast("double")
    fr = [float(p) / 100.0 for p in percents]
    one = (
        docs.join(doc_attrs.select("doc_id", attr_col), "doc_id")
        .filter(v.isNotNull())
        .agg(F.percentile(v, F.array(*[F.lit(f) for f in fr])).alias("vals"))
    )
    pcts = F.array(*[F.lit(float(p)) for p in percents])
    return (
        one.select(
            F.explode(F.arrays_zip(pcts.alias("pct"), F.col("vals").alias("value"))).alias("z")
        )
        .select(F.col("z.pct").alias("pct"), F.col("z.value").alias("value"))
        .orderBy("pct")
    )


def cardinality_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    attr_col: str,
    min_should_match: int = 0,
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """ES ``cardinality`` metric aggregation: ONE row
    ``(cardinality)`` — distinct values of ``attr_col`` among matching
    docs, NULLs excluded (ES collects values, not docs).

    ``exact=True`` is the oracle-checkable baseline (count-distinct =
    one extra exchange on the value). ``exact=False`` is the ES-parity
    scale path — ``approx_count_distinct`` (HyperLogLog++, the same
    sketch family ES uses) with relative error ``rsd``: partial
    sketches merge map-side, so the final exchange carries one sketch
    per partition regardless of cardinality — the 10^12-doc shape."""
    docs = matching_docs(index, query_terms, min_should_match)
    vals = docs.join(doc_attrs.select("doc_id", attr_col), "doc_id").filter(
        F.col(attr_col).isNotNull()
    )
    agg = (
        F.count_distinct(F.col(attr_col))
        if exact
        else F.approx_count_distinct(F.col(attr_col), rsd)
    )
    return vals.agg(agg.cast("long").alias("cardinality"))


def histogram_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    attr_col: str,
    interval: float,
    min_should_match: int = 0,
) -> DataFrame:
    """ES numeric ``histogram`` aggregation: ``(bucket, doc_count)``
    — matching docs bucketed by ``floor(value / interval) * interval``
    (the ES bucket law, correct for negatives too), bucket ascending.
    NULL values get no bucket; empty buckets are omitted (ES
    ``min_doc_count: 0`` gap-filling is presentation, exactly as
    :func:`date_histogram` documents). One hash aggregate over the
    joined match set — the bucket count is bounded by the value range,
    never by corpus size."""
    if interval <= 0:
        raise ValueError(f"interval must be positive, got {interval!r}")
    docs = matching_docs(index, query_terms, min_should_match)
    v = F.col(attr_col).cast("double")
    bucket = F.floor(v / F.lit(float(interval))) * F.lit(float(interval))
    return (
        docs.join(doc_attrs.select("doc_id", attr_col), "doc_id")
        .filter(v.isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.asc("bucket"))
    )


def sort_topk(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    sort_col: str,
    k: int = 10,
    ascending: bool = False,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``sort``-by-field search: the top ``k`` MATCHING docs ordered
    by an attribute instead of by score — ``(doc_id, sort_value)``.
    Missing/NULL sort values order LAST in either direction (ES's
    ``missing: _last`` default), tie-break doc_id asc.

    Plan: match set join attrs, then TakeOrdered — never a global
    sort; the scoring work BM25 would do is skipped entirely, exactly
    like ES skips scoring when ``sort`` replaces ``_score``."""
    docs = matching_docs(index, query_terms, min_should_match)
    v = F.col("sort_value")
    order = v.asc_nulls_last() if ascending else v.desc_nulls_last()
    return (
        docs.join(
            doc_attrs.select("doc_id", F.col(sort_col).alias("sort_value")),
            "doc_id",
            "left",
        )
        .orderBy(order, F.asc("doc_id"))
        .limit(int(k))
    )


def collapse_topk(
    scored: DataFrame,
    doc_attrs: DataFrame,
    group_col: str,
    k: int = 10,
    inner_hits: int = 1,
) -> DataFrame:
    """ES field collapsing (``collapse`` on ``_search``): keep only the
    top ``inner_hits`` docs per value of ``group_col`` (host, domain,
    product family — SERP same-site dedup), then the top ``k`` rows
    overall. Returns ``(group, doc_id, score)``.

    ``scored`` is any ``(doc_id, score)`` relation (``bm25_scored``,
    the distributed router relation, a fused hybrid ranking).
    Cross-engine-deterministic ranking needs a pre-rounded score
    column (the contract query rounds to 6).

    Semantics notes (ES parity):
    * the per-group cut happens over the FULL match set, before the
      global top-k — a group's best doc can surface even when ten
      better docs share one other group;
    * docs with a NULL ``group_col`` are NOT collapsed together — each
      forms its own singleton group (ES treats missing collapse keys
      as distinct). Implemented by salting NULL keys with doc_id so
      the window partition stays per-doc — the NULL "group" can never
      become a skew bomb on a corpus where most urls lack the
      attribute.

    Plan shape: one doc_id hash join (AQE-decided), one hash exchange
    on the (salted) group key for the per-group window — grouped top-k
    is the scalable shape (never a global sort) — then TakeOrdered for
    the final ``k``.
    """
    from pyspark.sql import Window

    joined = scored.join(
        doc_attrs.select("doc_id", F.col(group_col).alias("group")),
        "doc_id",
        "left",
    )
    part_key = F.when(
        F.col("group").isNull(),
        F.concat(F.lit("\x00null\x00"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("group").cast("string"))
    w = Window.partitionBy(part_key).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(inner_hits))
        .select("group", "doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def date_histogram(
    index: InvertedIndex,
    query_terms: list[str],
    doc_ts: DataFrame,
    ts_col: str = "warc_ts",
    interval: str = "day",
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``date_histogram``: ``(bucket, doc_count)`` — matching-doc
    counts per calendar ``interval`` of ``ts_col``, bucket ascending.
    ``bucket`` is the truncated timestamp (the bucket's start instant).

    Buckets with zero matching docs are omitted (ES's
    ``min_doc_count: 0`` gap-filling is a presentation concern — at
    crawl scale the bucket range is decided by the UI, not the
    engine); NULL timestamps get no bucket, mirroring
    :func:`facet_terms`'s missing handling."""
    iv = interval.lower()
    if iv not in _INTERVALS:
        raise ValueError(
            f"interval must be one of {sorted(_INTERVALS)}, got {interval!r}"
        )
    docs = matching_docs(index, query_terms, min_should_match)
    ts = F.col(ts_col).cast("timestamp")
    return (
        docs.join(doc_ts.select("doc_id", ts.alias("_ts")), "doc_id")
        .filter(F.col("_ts").isNotNull())
        .groupBy(F.date_trunc(iv, F.col("_ts")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.asc("bucket"))
    )


def significant_terms(
    index: InvertedIndex,
    query_terms: list[str],
    k: int = 10,
    min_doc_count: int = 1,
    min_should_match: int = 0,
    exclude_query_terms: bool = True,
    matched: DataFrame | None = None,
) -> DataFrame:
    """ES ``significant_terms`` aggregation: the vocabulary terms most
    DISTINCTIVE of the matched doc set vs the whole corpus, scored
    with ES's JLH heuristic::

        score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
        fg_pct = fg_df / |matched docs|,  bg_pct = df / n_docs

    Returns ``(term, fg_df, bg_df, score)`` ranked score desc / term
    asc — "what words describe THESE results?" (topic mining over a
    match set; the training-pipeline use is cluster/domain labeling).
    Terms below ``min_doc_count`` foreground docs are dropped (the ES
    noise knob); the query terms themselves are excluded by default
    (they trivially top the ranking — fg_pct is 1.0-ish by
    construction; pass ``exclude_query_terms=False`` for raw ES
    behavior, which returns them and lets the client filter).

    Plan shape: ONE semi join of postings against the matched-doc set
    (AQE broadcasts when the match set is small, hash otherwise) + one
    term hash aggregate, then a broadcast of the two scalar sizes into
    the score projection and TakeOrdered. The postings side is NOT
    term-pruned — significance needs every term in the matched docs —
    so the scan is proportional to the match set's token volume, never
    to the corpus; at 10^12 docs ES itself bounds this with shard
    sampling (``sample`` agg) — :func:`sampler_significant_terms` IS
    that cut, or pass your own sampled ``matched`` set."""
    spark = index.postings.sparkSession
    if matched is None:
        matched = matching_docs(index, query_terms, min_should_match)
    fg_size = matched.count()
    if fg_size == 0:
        return spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, score double"
        )
    corpus = index.corpus_stats.first()
    n_docs = corpus["n_docs"]
    fg = (
        index.postings.join(matched, "doc_id", "semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_df"))
    )
    if min_doc_count > 1:
        fg = fg.filter(F.col("fg_df") >= int(min_doc_count))
    if exclude_query_terms and query_terms:
        fg = fg.filter(~F.col("term").isin(list(set(query_terms))))
    # The background side (term_stats) is the FULL corpus vocabulary —
    # billions of terms at 10^12 docs — so it must never be forced to
    # broadcast. Plain equi-join on term: AQE broadcasts whichever side
    # is actually small at runtime (usually fg, the match-set vocab,
    # when the caller passes a sampled match set) and falls back to a
    # shuffle hash join otherwise.
    joined = fg.join(index.term_stats.select("term", "df"), "term")
    fg_pct = F.col("fg_df").cast("double") / F.lit(float(fg_size))
    bg_pct = F.col("df").cast("double") / F.lit(float(n_docs))
    score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    return (
        joined.select(
            "term",
            F.col("fg_df").cast("long").alias("fg_df"),
            F.col("df").cast("long").alias("bg_df"),
            score.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(int(k))
    )


def sampler_significant_terms(
    index: InvertedIndex,
    query_terms: list[str],
    sample_size: int = 100,
    k: int = 10,
    min_doc_count: int = 1,
    exclude_query_terms: bool = True,
    score_round: int | None = None,
) -> DataFrame:
    """ES ``sampler`` aggregation wrapping ``significant_terms`` — the
    documented cost bound for significance at corpus scale: the
    foreground is the top ``sample_size`` matching docs by BM25 score
    (ties doc_id asc — fully deterministic), not the whole match set,
    so the un-pruned postings semi-join touches ≤ sample_size docs'
    tokens no matter how big the match set is. This is exactly the
    shard-sampling cut ES applies (``sampler`` + ``significant_terms``
    sub-agg) and the one :func:`significant_terms`'s docstring points
    to for 10^12-doc use.

    Same output/ranking contract as :func:`significant_terms`
    (``fg_df`` counts within the sample; ``score`` is JLH with
    ``fg_size = |sample|``). ``score_round`` rounds the BM25 rank key
    before the cut — set it (e.g. 6) when the sample must be
    reproducible across engines/summation orders; float sums at full
    precision can permute near-tied docs at the sample boundary."""
    from .bm25 import bm25_scored

    scored = bm25_scored(index, query_terms)
    if score_round is not None:
        scored = scored.withColumn(
            "score", F.round("score", int(score_round))
        )
    sample = (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(sample_size))
        .select("doc_id")
    )
    return significant_terms(
        index,
        query_terms,
        k=k,
        min_doc_count=min_doc_count,
        exclude_query_terms=exclude_query_terms,
        matched=sample,
    )


def multi_terms_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    fields: list[str],
    k: int = 10,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``multi_terms`` bucket aggregation: top-``k`` COMPOSITE key
    buckets — one bucket per distinct tuple of the ``fields`` values
    among matching docs, ranked doc_count desc then key asc (each
    component ascending, the ES tie law). Docs missing ANY key field
    are skipped (ES drops them from multi_terms buckets; the
    single-field ``missing`` story lives in :func:`missing_agg`).
    Returns ``(*fields, doc_count)``.

    Unlike :func:`composite_agg` (exhaustive keyset pagination in key
    order), multi_terms is a RANKED top-k — the facet panel over a
    field pair. Plan: the :func:`facet_terms` shape with a composite
    group-by key — match-set agg + one doc_id join + a map-side-
    combined count per tuple into TakeOrdered."""
    if not fields:
        raise ValueError("multi_terms_agg needs at least one field")
    docs = matching_docs(index, query_terms, min_should_match)
    joined = docs.join(doc_attrs.select("doc_id", *fields), "doc_id")
    cond = F.lit(True)
    for f in fields:
        cond = cond & F.col(f).isNotNull()
    return (
        joined.filter(cond)
        .groupBy(*fields)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), *[F.asc(f) for f in fields])
        .limit(int(k))
    )


def rare_terms_agg(
    index: InvertedIndex, max_df: int = 1, k: int = 10
) -> DataFrame:
    """ES ``rare_terms`` bucket aggregation: the long-tail vocabulary —
    terms whose document frequency is at most ``max_df``, ranked df
    asc / term asc, first ``k``. The training-pipeline reading: the
    hapax/near-hapax terms that flag OCR noise, encoding damage, and
    spam salting. Returns ``(term, df)``.

    Deviation from ES, for determinism: ES computes this with a
    CuckooFilter (approximate, no total order); this is the EXACT
    answer — one pushed filter over the |vocab|-sized ``term_stats``
    relation + TakeOrdered, no postings scan at all."""
    if max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    return (
        index.term_stats.select(
            "term", F.col("df").cast("long").alias("df")
        )
        .filter(F.col("df") <= int(max_df))
        .orderBy(F.asc("df"), F.asc("term"))
        .limit(int(k))
    )


def top_hits_agg(
    index: InvertedIndex,
    query_terms: list[str],
    scored: DataFrame,
    doc_attrs: DataFrame,
    attr_col: str,
    k_buckets: int = 5,
    size: int = 3,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``terms`` aggregation with a ``top_hits`` sub-aggregation:
    the top ``k_buckets`` attribute values by matching-doc count, each
    carrying its ``size`` best hits by score. Returns
    ``(value, doc_count, hit_rank, doc_id, score)`` — bucket order
    doc_count desc / value asc (the :func:`facet_terms` law), hits
    within a bucket score desc / doc_id asc, ``hit_rank`` 1-based.

    ``scored`` is any ``(doc_id, score)`` relation for the SAME query
    (pass a pre-rounded score column for cross-engine-deterministic
    ranks). Plan shape: the facet's two aggs pick the buckets (tiny —
    broadcast back), then ONE per-bucket window over the scored match
    set restricted to those buckets; grouped top-k, never a global
    sort."""
    from pyspark.sql import Window

    buckets = facet_terms(
        index, query_terms, doc_attrs, attr_col, k=k_buckets,
        min_should_match=min_should_match,
    )
    hits = (
        scored.join(doc_attrs.select("doc_id", attr_col), "doc_id")
        .join(
            F.broadcast(buckets.withColumnRenamed("value", attr_col)),
            attr_col,
        )
    )
    w = Window.partitionBy(attr_col).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        hits.withColumn("hit_rank", F.row_number().over(w))
        .filter(F.col("hit_rank") <= int(size))
        .select(
            F.col(attr_col).alias("value"),
            "doc_count",
            "hit_rank",
            "doc_id",
            "score",
        )
        .orderBy(
            F.desc("doc_count"), F.asc("value"), F.asc("hit_rank")
        )
    )


def range_key(lo: float | None, hi: float | None) -> str:
    """ES default ``range``-bucket key: ``from-to`` with ``*`` for an
    unbounded side, numbers in shortest form (``:g``). Shared by
    :func:`range_agg` and oracle builders so the rendering cannot
    drift between engines."""
    ls = "*" if lo is None else f"{float(lo):g}"
    hs = "*" if hi is None else f"{float(hi):g}"
    return f"{ls}-{hs}"


def range_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    attr_col: str,
    ranges: list[tuple[float | None, float | None]],
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``range`` bucket aggregation: one row per configured range
    ``(key, doc_count)``, a value belonging to ``[from, to)`` (ES's
    half-open law; ``None`` = unbounded side; key rendered
    ``from-to`` with ``*`` for unbounded, ES's default key format).
    EVERY configured range appears — empty ranges count 0 (ES returns
    all requested buckets), and ranges may overlap (a value can land
    in several, unlike histogram).

    Plan: the range list is query-bounded and tiny, so each range is a
    conditional-sum column inside ONE aggregate over the joined match
    set (no per-range scan, no explode), then a literal unpivot —
    output rows = len(ranges), exchange carries one partial row per
    partition."""
    if not ranges:
        # a zero-range request would otherwise build agg() with no
        # expressions and a malformed stack(0) — fail loudly instead
        # (reachable from engine.aggregate via {"range": {"ranges": []}})
        raise ValueError("range_agg needs at least one range")
    docs = matching_docs(index, query_terms, min_should_match)
    v = F.col(attr_col).cast("double")
    joined = docs.join(doc_attrs.select("doc_id", attr_col), "doc_id").filter(
        v.isNotNull()
    )
    _key = range_key
    conds = []
    for lo, hi in ranges:
        c = F.lit(True)
        if lo is not None:
            c = c & (v >= F.lit(float(lo)))
        if hi is not None:
            c = c & (v < F.lit(float(hi)))
        conds.append(c)
    one = joined.agg(
        *[
            F.coalesce(
                F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ).alias(f"_r{i}")
            for i, c in enumerate(conds)
        ]
    )
    pairs = []
    for i, (lo, hi) in enumerate(ranges):
        pairs.append(F.lit(_key(lo, hi)))
        pairs.append(F.col(f"_r{i}").cast("long"))
    # stack(n, k0, v0, k1, v1, ...) — the literal unpivot
    return one.select(
        F.expr(
            "stack({n}, {args})".format(
                n=len(ranges),
                args=", ".join(
                    f"'{_key(lo, hi)}', _r{i}"
                    for i, (lo, hi) in enumerate(ranges)
                ),
            )
        ).alias("key", "doc_count")
    ).select("key", F.col("doc_count").cast("long").alias("doc_count"))


def extended_stats_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    attr_col: str,
    sigma: float = 2.0,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``extended_stats``: ONE row ``(count, min, max, avg, sum,
    sum_of_squares, variance, std_deviation, upper, lower)`` over the
    matching docs' values (NULLs excluded). Variance is ES's
    POPULATION law computed exactly as ES does —
    ``sum_of_squares/count − avg²`` — written in the same IEEE
    expression order on both engines so the contract hash closes;
    ``upper``/``lower`` are ``avg ± sigma·std``. Same single-aggregate
    plan as :func:`stats_agg`."""
    docs = matching_docs(index, query_terms, min_should_match)
    v = F.col(attr_col).cast("double")
    base = (
        docs.join(doc_attrs.select("doc_id", attr_col), "doc_id")
        .filter(v.isNotNull())
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            F.avg(v).alias("avg"),
            F.sum(v).alias("sum"),
            F.sum(v * v).alias("sum_of_squares"),
        )
    )
    var = (
        F.col("sum_of_squares") / F.col("count").cast("double")
        - F.col("avg") * F.col("avg")
    )
    return (
        base.withColumn("variance", var)
        .withColumn("std_deviation", F.sqrt(F.col("variance")))
        .withColumn(
            "upper", F.col("avg") + F.lit(float(sigma)) * F.col("std_deviation")
        )
        .withColumn(
            "lower", F.col("avg") - F.lit(float(sigma)) * F.col("std_deviation")
        )
    )


def value_count_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    attr_col: str,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``value_count``: ONE row ``(value_count)`` — the number of
    VALUES collected from matching docs (NULLs excluded; the
    denominator strip ES renders beside avg/weighted_avg)."""
    docs = matching_docs(index, query_terms, min_should_match)
    return (
        docs.join(doc_attrs.select("doc_id", attr_col), "doc_id")
        .filter(F.col(attr_col).isNotNull())
        .agg(F.count(F.lit(1)).cast("long").alias("value_count"))
    )


def weighted_avg_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    value_col: str,
    weight_col: str,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``weighted_avg``: ONE row ``(value_count, weighted_avg)`` =
    ``Σ v·w / Σ w`` over matching docs. Rows with a NULL value OR a
    NULL weight are skipped entirely (ES skips docs missing either
    field unless a ``missing`` default is configured — not modeled).
    ``value_count`` rides along so the one aggregate also serves the
    ES ``value_count`` strip for the same field pair."""
    docs = matching_docs(index, query_terms, min_should_match)
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    return (
        docs.join(doc_attrs.select("doc_id", value_col, weight_col), "doc_id")
        .filter(v.isNotNull() & w.isNotNull())
        .agg(
            F.count(F.lit(1)).cast("long").alias("value_count"),
            (F.sum(v * w) / F.sum(w)).alias("weighted_avg"),
        )
    )


def composite_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    source_cols: list[str],
    size: int = 10,
    after: tuple | None = None,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``composite`` aggregation: bucket rows ``(<source_cols...>,
    doc_count)`` ordered by the composite key ascending, paginated by
    an ``after`` key — ES's ONLY scalable agg pagination (terms-agg
    top-k must rank the whole bucket space; composite streams buckets
    in key order, so every page costs the same bounded work — the
    10^12-doc shape, exactly the keyset law of
    ``bm25.keyset_page``). NULL key components get no bucket (ES
    ``missing_bucket`` is opt-in and not modeled).

    ``after`` is the last page's final key tuple; the next page is
    every bucket with key strictly greater in lexicographic order —
    the predicate is an OR-chain over key prefixes, applied AFTER the
    bucket aggregate (the bucket space, not the doc space, is paged).
    """
    if not source_cols:
        raise ValueError("composite_agg needs at least one source col")
    docs = matching_docs(index, query_terms, min_should_match)
    joined = docs.join(doc_attrs.select("doc_id", *source_cols), "doc_id")
    for c in source_cols:
        joined = joined.filter(F.col(c).isNotNull())
    buckets = joined.groupBy(*source_cols).agg(
        F.count(F.lit(1)).cast("long").alias("doc_count")
    )
    if after is not None:
        if len(after) != len(source_cols):
            raise ValueError(
                f"after key arity {len(after)} != sources {len(source_cols)}"
            )
        # lexicographic strictly-greater: OR over prefix-equal chains
        pred = None
        for i in range(len(source_cols)):
            clause = F.col(source_cols[i]) > F.lit(after[i])
            for j in range(i):
                clause = clause & (F.col(source_cols[j]) == F.lit(after[j]))
            pred = clause if pred is None else (pred | clause)
        buckets = buckets.filter(pred)
    return buckets.orderBy(
        *[F.asc(c) for c in source_cols]
    ).limit(int(size))


def filters_agg(
    index: InvertedIndex,
    named_filters: dict[str, list[str]],
) -> DataFrame:
    """ES ``filters`` bucket aggregation: one row per NAMED bucket
    ``(bucket, doc_count)`` — each bucket counts docs matching its OR
    term-bag. Every configured bucket appears (count 0 when nothing
    matches); buckets may overlap. Output ordered bucket asc.

    Plan: ONE postings scan IN-pruned to the union of all bags; a
    broadcast (term → bucket) map fans rows into buckets; the
    distinct-doc count per bucket is one aggregate (a doc matching two
    terms of the same bag counts once). Zero-count buckets come from a
    literal frame left join — no second scan."""
    spark = index.postings.sparkSession
    names = sorted(named_filters)
    pairs = sorted(
        {(t, n) for n, bag in named_filters.items() for t in bag}
    )
    all_terms = sorted({t for t, _ in pairs})
    frame = spark.createDataFrame([(n,) for n in names], "bucket string")
    if not pairs:
        return frame.withColumn("doc_count", F.lit(0).cast("long"))
    tmap = spark.createDataFrame(pairs, "term string, bucket string")
    counts = (
        index.postings.filter(F.col("term").isin(all_terms))
        .join(F.broadcast(tmap), "term")
        .groupBy("bucket")
        .agg(F.count_distinct(F.col("doc_id")).alias("n"))
    )
    return (
        frame.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("doc_count"),
        )
        .orderBy(F.asc("bucket"))
    )


def adjacency_matrix_agg(
    index: InvertedIndex,
    named_filters: dict[str, list[str]],
) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation: one row per NAMED filter
    and one per pair intersection (key ``a&b``, names sorted — the ES
    key format): ``(bucket, doc_count)``. Deviation from ES, for
    cross-engine determinism: EVERY single and EVERY pair appears,
    zero counts included (ES prunes empty buckets — a presentation
    concern; a total frame hashes identically everywhere).

    Plan: the distinct (bucket, doc) relation comes from ONE IN-pruned
    postings scan + broadcast term→bucket fan-out (the
    :func:`filters_agg` shape); singles are one aggregate over it,
    pairs one doc_id-keyed self-join bounded by Σ per-bucket match
    counts (filter count is query-bounded, so the join fan-out per doc
    is ≤ |filters|²). Zero-count rows ride a literal frame left join."""
    spark = index.postings.sparkSession
    names = sorted(named_filters)
    pairs = sorted(
        {(t, n) for n, bag in named_filters.items() for t in bag}
    )
    keys = list(names) + [
        f"{a}&{b}" for i, a in enumerate(names) for b in names[i + 1 :]
    ]
    frame = spark.createDataFrame([(k,) for k in keys], "bucket string")
    if not pairs:
        return frame.withColumn("doc_count", F.lit(0).cast("long"))
    tmap = spark.createDataFrame(pairs, "term string, bucket string")
    bd = (
        index.postings.filter(
            F.col("term").isin(sorted({t for t, _ in pairs}))
        )
        .join(F.broadcast(tmap), "term")
        .select("bucket", "doc_id")
        .distinct()
    )
    singles = bd.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    l, r = bd.alias("l"), bd.alias("r")
    inter = (
        l.join(r, "doc_id")
        .filter(F.col("l.bucket") < F.col("r.bucket"))
        .groupBy(
            F.concat_ws("&", F.col("l.bucket"), F.col("r.bucket")).alias(
                "bucket"
            )
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts = singles.unionByName(inter)
    return (
        frame.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("doc_count"),
        )
        .orderBy(F.asc("bucket"))
    )


def terms_set_topk(
    index: InvertedIndex,
    query_terms: list[str],
    required: DataFrame,
    k: int = 10,
) -> DataFrame:
    """ES ``terms_set`` query: a doc matches when its DISTINCT
    query-term match count reaches its OWN per-doc threshold (ES's
    ``minimum_should_match_field`` — the per-doc generalization of the
    fixed ``minimum_should_match`` knob). ``required`` is any
    ``(doc_id, required_matches)`` relation. Matching docs score the
    plain disjunctive BM25 sum; ``(doc_id, score)``, score desc /
    doc_id asc, ``k`` rows.

    Plan: the per-doc (score, match-count) aggregate is the
    ``bm25_scored`` shape; the threshold arrives via ONE doc_id join
    applied post-aggregate and pre-top-k (a doc's threshold cannot
    change other docs' scores, so the join commutes with scoring but
    NOT with the cut)."""
    return (
        terms_set_scored(index, query_terms, required)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def terms_set_scored(
    index: InvertedIndex,
    query_terms: list[str],
    required: DataFrame,
) -> DataFrame:
    """Pre-top-k ``terms_set`` relation ``(doc_id, score)`` — see
    :func:`terms_set_topk` for semantics and plan shape."""
    from .bm25 import matched_scores

    return (
        matched_scores(index, query_terms)
        .join(required.select("doc_id", "required_matches"), "doc_id")
        .filter(F.col("n_matched") >= F.col("required_matches"))
        .select("doc_id", "score")
    )


def date_range_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_ts: DataFrame,
    ts_col: str,
    ranges: list[tuple[int | None, int | None]],
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``date_range`` aggregation over epoch-second bounds:
    ``[from, to)`` half-open like :func:`range_agg` (ES date_range
    shares the numeric range law; date-math rendering is client
    sugar), every configured range kept, overlap allowed. ``doc_ts``
    carries an epoch-seconds BIGINT column — the engine's timestamp
    convention (``date_histogram`` emits the same), which keeps the
    cross-engine comparison pure integer arithmetic."""
    return range_agg(
        index,
        query_terms,
        doc_ts,
        ts_col,
        [(float(lo) if lo is not None else None,
          float(hi) if hi is not None else None) for lo, hi in ranges],
        min_should_match,
    )


def missing_agg(
    index: InvertedIndex,
    query_terms: list[str],
    doc_attrs: DataFrame,
    attr_col: str,
    min_should_match: int = 0,
) -> DataFrame:
    """ES ``missing`` aggregation: ONE row ``(missing_count)`` — how
    many MATCHING docs lack a value for ``attr_col`` (NULL attribute
    or no attrs row at all; both are "missing" in ES's doc-values
    sense). One left join + one conditional count."""
    docs = matching_docs(index, query_terms, min_should_match)
    return (
        docs.join(
            doc_attrs.select("doc_id", attr_col), "doc_id", "left"
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col(attr_col).isNull(), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("missing_count")
        )
    )
