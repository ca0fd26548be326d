"""Field-weighted BM25 ("BM25F-lite" / Lucene combined-fields) over
multiple token fields — body text plus incoming anchor text is the
classic pairing (anchor text describes the target page better than the
target's own boilerplate; the signal web search engines have indexed
since Brin & Page §2.2). The reference engine exposes per-field
analysis through its Elasticsearch plugin
(``AnalysisMeCabKoStandardPlugin.java`` registers the analyzers;
per-field boosts ride the ES query DSL); this is the same capability
expressed as one Spark plan.

Model: the simplified BM25F that Lucene ships as "combined field"
scoring (CombinedFieldQuery) — each field's term frequencies and
lengths are scaled by the field weight and pooled into ONE virtual
document before standard BM25 runs::

    tf'(t,d)  = Σ_f  w_f · tf_f(t,d)
    dl'(d)    = Σ_f  w_f · dl_f(d)
    idf       = over the pooled tf'  (df' = #docs with tf' > 0)
    score     = Σ_t idf(t) · tf' / (tf' + k1·(1 − b + b·dl'/avgdl'))

versus full BM25F (per-field b_f saturating before the idf sum). The
pooled form needs no per-field tuning, is rank-stable under field
sparsity (a doc with no anchors just has smaller dl'), and — the point
here — stays a pure relational plan: a weighted union replaces any
per-field score combination, so the whole thing is one hash aggregate
pipeline that an exact DuckDB oracle can replay.

Scale shape: the union of field token tables is map-side work; the
per-(term, doc) pooling and the per-doc length are each one hash
aggregate with partial combine; query-term filtering happens BEFORE
the tf aggregation (pushed into the field scans); corpus scalars ride
a broadcast 1-row cross-join (no eager driver job); top-k is
TakeOrdered, never a global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .bm25 import bm25_partial_col, idf_col

__all__ = ["weighted_field_tokens", "bm25f_topk", "bm25f_topk_postings"]


def weighted_field_tokens(
    fields: Sequence[tuple[DataFrame, float]],
    doc_id: str = "doc_id",
    term: str = "term",
) -> DataFrame:
    """Pool per-field token tables ``(doc_id, term)`` into one weighted
    token relation ``(doc_id, term, w)`` — the "virtual document" of
    simplified BM25F. Fields with weight 0 are dropped eagerly."""
    parts = [
        df.select(
            F.col(doc_id).alias("doc_id"),
            F.col(term).alias("term"),
            F.lit(float(w)).alias("w"),
        )
        for df, w in fields
        if w
    ]
    if not parts:
        raise ValueError("bm25f: at least one field with non-zero weight")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def bm25f_topk(
    fields: Sequence[tuple[DataFrame, float]],
    query_terms: Sequence[str],
    k: int = 10,
) -> DataFrame:
    """Field-weighted BM25 top-k over ``fields`` = [(tokens, weight)]
    token tables ``(doc_id, term)`` → ``(doc_id, score)``, ``k`` rows,
    rank-deterministic (score desc, doc_id asc). ``score`` is rounded
    to 6 decimals (summation-order float noise; the driver-contract
    convention).

    N and avgdl are computed over the union's docs — a doc present in
    ANY field is a corpus member. Single lazy job: the (n, avgdl)
    scalars ride a broadcast 1-row cross-join and ReuseExchange dedupes
    the shared doc-length aggregation subtree (the ``bm25_topk``
    single-job formulation).
    """
    toks = weighted_field_tokens(fields)
    dl = toks.groupBy("doc_id").agg(F.sum("w").alias("doc_len"))
    scalars = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("doc_len").alias("avgdl"),
    )
    tfs = (
        toks.filter(F.col("term").isin(list(set(query_terms))))
        .groupBy("term", "doc_id")
        .agg(F.sum("w").alias("tf"))
    )
    dfs = tfs.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    return (
        tfs.join(F.broadcast(dfs), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scalars))
        .withColumn("idf", idf_col(F.col("n"), F.col("df")))
        .withColumn(
            "partial",
            bm25_partial_col(
                F.col("idf"), F.col("tf"), F.col("doc_len"), F.col("avgdl")
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )

def bm25f_topk_postings(
    index,
    fields: Sequence[tuple[DataFrame, DataFrame, float, float]],
    query_terms: Sequence[str],
    k: int = 10,
) -> DataFrame:
    """Combined-field BM25F over a BUILT index (``InvertedIndex``, the
    body field at weight 1) plus any number of extra fields —
    ``fields`` is a sequence of ``(postings, doc_stats, len_sum,
    weight)`` per extra field, the table triple a ``with_anchors=True``
    / ``with_titles=True`` build writes (postings ``(term, doc_id,
    tf)``; doc_stats ``(doc_id, <field>_len)``; ``len_sum`` the
    corpus-wide field length, a scalar). Returns ``(doc_id, score)``,
    ``k`` rows, rank-deterministic. An empty/all-zero-weight ``fields``
    degenerates to plain body BM25 (rank-identity pinned in tests).

    Pooling per the model in this module's header: query-term tfs from
    every field union and sum with the field weights (one hash agg);
    the virtual doc length is ``doc_len + Σ w_f·len_f`` (field-less
    docs coalesce to 0); ``avgdl' = avgdl + Σ w_f·len_sum_f/N`` comes
    from scalars — exact for ANY query-time weights, no per-query
    corpus pass; idf uses the POOLED df (count of docs matching in any
    field), computed in-plan from the already-filtered tf relation.

    Scale shape: every postings scan is pruned by the query-term
    IN-filter before anything shuffles; the doc-length join touches
    only matched docs. At 10^12 docs, store doc_stats and the field
    doc_stats bucketed by doc_id alongside doc-partitioned postings so
    those joins are co-located; the driver sees only the 1-row stats
    reads and the final top-k.
    """
    terms = sorted(set(query_terms))
    spark = index.postings.sparkSession
    live = [(p, ds, ls, w) for p, ds, ls, w in fields if w]
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    corpus = index.corpus_stats.first()
    n_docs, avgdl_body = corpus["n_docs"], corpus["avgdl"]
    if not n_docs:
        return spark.createDataFrame([], "doc_id long, score double")
    avgdl = avgdl_body + sum(
        w * (ls or 0) / n_docs for _p, _ds, ls, w in live
    )

    tfs = index.postings.filter(F.col("term").isin(terms)).select(
        "term", "doc_id", F.col("tf").cast("double").alias("wtf")
    )
    for p, _ds, _ls, w in live:
        tfs = tfs.unionByName(
            p.filter(F.col("term").isin(terms)).select(
                "term",
                "doc_id",
                (F.col("tf").cast("double") * F.lit(float(w))).alias("wtf"),
            )
        )
    tfs = tfs.groupBy("term", "doc_id").agg(F.sum("wtf").alias("tf"))

    pooled = F.col("doc_len").cast("double")
    lens = index.doc_stats.select("doc_id", "doc_len")
    for i, (_p, ds, _ls, w) in enumerate(live):
        len_col = next(c for c in ds.columns if c != "doc_id")
        lens = lens.join(
            ds.select("doc_id", F.col(len_col).alias(f"_fl{i}")), "doc_id", "left"
        )
        pooled = pooled + F.lit(float(w)) * F.coalesce(
            F.col(f"_fl{i}").cast("double"), F.lit(0.0)
        )
    lens = lens.select("doc_id", pooled.alias("pooled_len"))
    dfs = tfs.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    return (
        tfs.join(F.broadcast(dfs), "term")
        .join(lens, "doc_id")
        .withColumn("idf", idf_col(float(n_docs), F.col("df")))
        .withColumn(
            "partial",
            bm25_partial_col(F.col("idf"), F.col("tf"), F.col("pooled_len"), avgdl),
        )
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
