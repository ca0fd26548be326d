"""Bulk top-k retrieval: thousands of queries in ONE Spark job.

The reference serves one query per REST call
(``ProductNameAnalysisAction.java:74-229``); a training-data pipeline
(hard-negative mining, relevance distillation, eval sweeps) needs the
opposite shape — a DataFrame of queries scored against the index in a
single job. Plan:

1. ONE term-pruned scan of the block index covering the whole query
   batch's vocabulary (same fetch the serving path uses; query-set
   vocabularies are small relative to the index — that is what makes
   the broadcast feasible),
2. broadcast the per-term block payloads to the executors,
3. ``mapInPandas`` over the queries table — each task binds every
   broadcast term its queries need to one ``TermPostings`` and runs the
   SAME AST evaluator the serving path runs (rank-identical by
   construction), embarrassingly parallel per query. Every query is an
   AST in its JSON rendering; a disjunctive bag is a ``Sum``
   (``ast.bag_ast``).

At 10^12-doc scale the broadcast holds only the batch's query-term
postings (block-compressed, ~2 bytes/posting); for query batches whose
vocabulary postings exceed executor memory, shard the query batch by
vocabulary (disjoint term groups) and run one job per shard.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .bm25 import lucene_idf
from .wand import TermPostings, fetch_term_blocks

__all__ = ["ast_topk_batch"]

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _hot_vocab(
    term_stats: DataFrame | None,
    vocab: list[str],
    max_broadcast_df: int | None,
) -> set[str]:
    """Terms whose df exceeds the broadcast budget. The same guard the
    serving router applies per query (``router.py``), applied to the
    BATCH vocabulary: a josa-class term in one query of a million-query
    batch must not pull its (at 10^12 docs, multi-GB) block list into
    the driver fetch + executor broadcast."""
    if term_stats is None or max_broadcast_df is None or not vocab:
        return set()
    from .router import term_dfs

    dfs = term_dfs(term_stats, vocab)
    return {t for t, df in dfs.items() if df > max_broadcast_df}


def ast_topk_batch(
    blocks: DataFrame,
    queries: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    ast_col: str = "query_json",
    id_col: str = "query_id",
    term_stats: DataFrame | None = None,
    max_broadcast_df: int | None = None,
) -> DataFrame:
    """Bulk retrieval for FULL query ASTs — the reference's real query
    shape (``DanawaSearchQueryBuilder.java:240-305`` emits
    AND(analyzed terms) + synonym OR subtrees + a boost-0 match_phrase
    per query), scored for a whole DataFrame of queries in ONE job.

    ``queries`` carries each query as its JSON rendering (Q6/Q7
    round-trip format, ``ast.to_json``; a disjunctive bag is
    ``to_json(bag_ast(terms))``). The batch vocabulary is extracted
    DISTRIBUTED (one mapInPandas pass → distinct term collect, bounded
    by the batch's vocabulary, not its query count), ONE term-pruned
    fetch loads the union postings — with positions only if any query
    contains a phrase — and the broadcast payload feeds the SAME
    evaluator the serving path runs, per executor task
    (:func:`_score_queries`; rank-identical by construction). A hot
    query (a term's df above ``max_broadcast_df``) takes the
    distributed scorer instead."""
    from .ast import ast_shape, ast_terms, from_json

    spark = blocks.sparkSession

    def vocab_rows(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            terms: set[str] = set()
            phrase = False
            for spec in pdf[ast_col]:
                ast_vocab, ast_phrase = ast_shape(from_json(spec))
                terms.update(ast_vocab)
                phrase = phrase or ast_phrase
            yield pd.DataFrame(
                {"term": sorted(terms), "phrase": [phrase] * len(terms)}
            )

    vocab_df = (
        queries.select(ast_col)
        .mapInPandas(vocab_rows, "term string, phrase boolean")
        .groupBy("term")
        .agg(F.max("phrase").alias("phrase"))
        .collect()
    )
    vocab = sorted(r["term"] for r in vocab_df)
    needs_positions = any(r["phrase"] for r in vocab_df)
    hot = _hot_vocab(term_stats, vocab, max_broadcast_df)
    hot_part = None
    if hot:
        from .router import distributed_ast_topk, term_dfs

        # flag hot queries DISTRIBUTED (the parse runs executor-side);
        # only those rows come to the driver
        hot_set = hot

        def flag_hot(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                keep_ids, keep_specs = [], []
                for qid, spec in zip(pdf[id_col], pdf[ast_col]):
                    if ast_terms(from_json(spec)) & hot_set:
                        keep_ids.append(int(qid))
                        keep_specs.append(spec)
                yield pd.DataFrame(
                    {"query_id": pd.Series(keep_ids, dtype="int64"),
                     "query_json": pd.Series(keep_specs, dtype="object")}
                )

        hot_rows = (
            queries.select(id_col, ast_col)
            .mapInPandas(flag_hot, "query_id long, query_json string")
            .collect()
        )
        hot_ids = {r["query_id"] for r in hot_rows}
        out_rows: list[tuple[int, int, int, float]] = []
        for r in hot_rows:
            ast = from_json(r["query_json"])
            dfs = term_dfs(term_stats, sorted(ast_terms(ast)))
            hits = distributed_ast_topk(ast, blocks, dfs, n_docs, avgdl, k)
            out_rows.extend(
                (int(r["query_id"]), rank, int(d), float(s))
                for rank, (d, s) in enumerate(hits, start=1)
            )
        hot_part = spark.createDataFrame(out_rows, RESULT_SCHEMA)
        queries = queries.filter(~F.col(id_col).isin(sorted(hot_ids)))
        vocab = [t for t in vocab if t not in hot]
    payload = fetch_term_blocks(blocks, vocab, with_positions=needs_positions)
    bc = spark.sparkContext.broadcast((payload, n_docs, avgdl, k))

    def score(batches: Iterator) -> Iterator:
        return _score_queries(batches, *bc.value, id_col=id_col, ast_col=ast_col)

    cold = queries.select(id_col, ast_col).mapInPandas(score, RESULT_SCHEMA)
    return cold.unionByName(hot_part) if hot_part is not None else cold


def _score_queries(
    batches: Iterator,
    payload: dict,
    n_docs: int,
    avgdl: float,
    k: int,
    id_col: str = "query_id",
    ast_col: str = "query_json",
) -> Iterator:
    """One task of :func:`ast_topk_batch`: each query of ``batches``
    (pandas frames of ``id_col``, ``ast_col``) → its top-k rows of
    :data:`RESULT_SCHEMA`, by the serving evaluator. ``payload`` is the
    broadcast ``fetch_term_blocks`` result; a term becomes one
    :class:`TermPostings` the first time a query of the task needs it,
    so it decodes and scores once per task."""
    import pandas as pd

    from .ast import ast_shape, from_json, validate_ast
    from .executor import _execute_bound

    bound: dict[str, tuple] = {}
    for pdf in batches:
        qids, ranks, docs, scores = [], [], [], []
        for qid, spec in zip(pdf[id_col], pdf[ast_col]):
            ast = from_json(spec)
            validate_ast(ast)
            for t in ast_shape(ast)[0]:
                if t not in bound and t in payload:
                    blks, df = payload[t]
                    bound[t] = (TermPostings(blks, df), lucene_idf(n_docs, df))
            for rank, (d, s) in enumerate(_execute_bound(ast, bound, avgdl, k), start=1):
                qids.append(int(qid))
                ranks.append(rank)
                docs.append(int(d))
                scores.append(float(s))
        yield pd.DataFrame(
            {
                "query_id": pd.Series(qids, dtype="int64"),
                "rank": pd.Series(ranks, dtype="int32"),
                "doc_id": pd.Series(docs, dtype="int64"),
                "score": pd.Series(scores, dtype="float64"),
            }
        )
