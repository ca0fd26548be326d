"""High-df query routing: executor-side scoring for hot terms.

The serving path collects the query terms' compressed blocks to the
driver (``wand.py``) and runs the AST evaluator there
(``executor.py``) — the right shape for typical queries (a few terms ×
bounded df → a few MB).
But the reference's own hardcoded josa list
(``KoreanWordExtractor.java:62``) says ultra-common particles ARE
routine query terms, and at 10^12 docs a single josa-class term owns
millions of blocks: collecting them driver-side is the one
100×-scale-killer the round-3 audit found (``wand.py:184``).

This module is the router the verdict asked for: terms whose df
(already in ``term_stats``; fetched with a pushed-down IN filter —
≤ |query| rows to the driver) exceeds ``max_driver_df`` send the whole
query through a DISTRIBUTED scorer over the block table instead:

1. one term-pruned scan of ``blocks`` (predicate pushdown on ``term``),
2. ``mapInPandas`` decodes each block executor-side into vectorized
   (doc_id, partial BM25 score) arrays — the same varint/delta codec
   and Lucene-BM25 arithmetic the driver evaluator uses,
3. per-doc combination is a hash aggregate (map-side partial agg);
   every AST scores via a term→score map column and a driver-composed
   Column expression (And = sum, all required; Or = max of matching
   children; Sum = child-order sum of matching children when at least
   ``min_should_match`` match, the disjunctive bag — the documented
   engine semantics),
4. top-k is ``orderBy.limit`` = per-partition TakeOrdered + driver
   merge of k rows, below which a ``search_after`` cursor filters
   (``bm25.keyset_page``).

Driver traffic is therefore O(|query| + k) rows regardless of df —
while scores stay rank-identical to the driver evaluator (same codec,
same formula, same tie-break, sums in the same order; property-tested
in ``tests/test_query_router.py``).

Phrase nodes (Q4) need cross-term position alignment. The reference's
standard emitted query is ``AND(analyzed terms) + boost-0
match_phrase`` (``DanawaSearchQueryBuilder.java:287-291``) — so a hot
term almost always arrives WITH a phrase sibling, and that shape must
route too: :func:`phrase_match_docs` evaluates each top-level phrase
as a distributed score-neutral filter (decode positions executor-side,
one doc_id-keyed shuffle bounded by the phrase terms' df, the same
``phrase_reach`` DP the driver evaluator runs), inner-joined against the
scored docs. A Phrase nested ANYWHERE else (Or-nested multi-word
synonym expansions, phrases inside nested conjunctions) routes through
the general evaluator: each distinct Phrase becomes a boolean flag
column (full-outer-joined doc sets from :func:`phrase_match_docs`) and
the score expression renders it as ``when(flag, 0.0)`` — the boost-0
semantics — so EVERY Term/And/Or/Sum/Phrase tree evaluates fully
distributed; no query shape fetches blocks to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame

from .ast import And, DisMax, Not, Or, Phrase, Sum, Term, validate_ast
from .bm25 import bm25_partial, keyset_page, lucene_idf

__all__ = [
    "term_dfs",
    "distributed_ast_topk",
    "count_ast_blocks",
    "phrase_match_docs",
]

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("partial", T.DoubleType(), False),
    ]
)


def term_dfs(term_stats: DataFrame, terms: list[str]) -> dict[str, int]:
    """df per query term via a pushed-down IN filter on ``term_stats``
    — one Spark job; the driver receives at most ``len(terms)`` rows.
    The serving engine does not call it: it answers from the parquet
    files through ``wand.DirectTermStatsReader`` (same contract, no
    job). Terms absent
    from the index come back as df 0, NOT missing: the lookup covered
    them, so absence is knowledge — ``phrase_match_docs`` treats a
    missing key as "df unknown, skip pruning" but a 0 as the instant
    empty short-circuit, and a typo'd phrase term must take the
    short-circuit rather than decode its hot siblings' full postings."""
    uniq = sorted(set(terms))
    if not uniq:
        return {}
    rows = (
        term_stats.filter(F.col("term").isin(uniq)).select("term", "df").collect()
    )
    found = {r["term"]: r["df"] for r in rows}
    return {t: found.get(t, 0) for t in uniq}


def _decode_stage(idf_by_term: dict[str, float], avgdl: float):
    """mapInPandas stage: compressed blocks → (doc_id, term, partial
    BM25) rows, vectorized per block (no per-posting Python)."""

    def decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from ..index.codec import decode_block_arrays

        for pdf in batches:
            docs_out, terms_out, partial_out = [], [], []
            for term, dd, tfs, dls in zip(
                pdf["term"],
                pdf["doc_deltas"],
                pdf["tfs"],
                pdf["doc_lens"],
            ):
                idf = idf_by_term.get(term)
                if idf is None:
                    continue
                docs, tf, dl, _ = decode_block_arrays(bytes(dd), bytes(tfs), bytes(dls))
                partial = bm25_partial(
                    idf, tf.astype(np.float64), dl.astype(np.float64), avgdl
                )
                docs_out.append(docs)
                terms_out.extend([term] * len(docs))
                partial_out.append(partial)
            if docs_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(docs_out),
                        "term": pd.Series(terms_out, dtype="object"),
                        "partial": np.concatenate(partial_out),
                    }
                )

    return decode


def _partials(
    blocks: DataFrame,
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
) -> DataFrame:
    """Term-pruned, column-pruned scan → per-(doc, term) partial scores
    (executor-side decode; every (doc, term) pair appears in exactly
    one block so the result needs no dedup)."""
    terms = sorted(t for t, df in dfs.items() if df > 0)
    if not terms:
        return blocks.sparkSession.createDataFrame([], _PARTIAL_SCHEMA)
    idf = {t: lucene_idf(n_docs, dfs[t]) for t in terms}
    # first_doc is deliberately NOT selected: docIDs rebuild from the
    # delta chain alone (each block's first delta is absolute), and a
    # josa-class hot term owns millions of blocks — 8 wasted bytes per
    # block through the scan and the Arrow boundary add up
    pruned = blocks.filter(F.col("term").isin(terms)).select(
        "term", "doc_deltas", "tfs", "doc_lens"
    )
    return pruned.mapInPandas(_decode_stage(idf, avgdl), _PARTIAL_SCHEMA)


def decoded_doc_ids(blocks: DataFrame, terms: list[str]) -> DataFrame:
    """Term-pruned block scan → decoded docID rows, executor-side —
    the docs-only varint/delta decode stage of the phrase rarest-term
    broadcast prune."""

    def decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from ..index.codec import decode_block_arrays

        for pdf in batches:
            docs_out = [decode_block_arrays(bytes(dd))[0] for dd in pdf["doc_deltas"]]
            if docs_out:
                yield pd.DataFrame({"doc_id": np.concatenate(docs_out)})

    return (
        blocks.filter(F.col("term").isin(sorted(set(terms))))
        .select("doc_deltas")
        .mapInPandas(decode, "doc_id bigint")
    )


def _phrase_free(node) -> bool:
    if isinstance(node, Phrase):
        return False
    if isinstance(node, Not):
        return _phrase_free(node.child)
    if isinstance(node, (And, Or, Sum, DisMax)):
        return all(_phrase_free(c) for c in node.children)
    return True


def _has_not(node) -> bool:
    if isinstance(node, Not):
        return True
    if isinstance(node, (And, Or, Sum, DisMax)):
        return any(_has_not(c) for c in node.children)
    return False


def _fast_shape(node) -> bool:
    """True for the shapes the INNER-JOIN phrase plan handles: any
    phrase-free Term/And/Or tree, a bare Phrase, or an And whose Phrase
    children all sit DIRECTLY under the top-level And — the reference's
    standard emitted shape (AND of analyzed terms plus a boost-0
    match_phrase). Everything else takes the general flag-column plan
    (:func:`_scored_docs_general`), which needs outer joins because a
    nested Phrase may be optional rather than required."""
    if isinstance(node, Phrase):
        return True
    if _has_not(node) and not _phrase_free(node):
        # a Not beside/inside phrases needs the outer-join flag plan: a
        # doc matching only the phrase arm has no partials row, and the
        # fast plan's inner phrase join starts FROM the partials side
        return False
    if isinstance(node, And):
        return all(
            isinstance(c, Phrase) or _phrase_free(c) for c in node.children
        )
    return _phrase_free(node)


_PHRASE_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("positions", T.ArrayType(T.LongType()), False),
    ]
)


def phrase_match_docs(
    blocks: DataFrame,
    terms: tuple[str, ...],
    slop: int = 0,
    dfs: dict[str, int] | None = None,
    broadcast_df_max: int = 1_000_000,
) -> DataFrame:
    """Distributed Q4 phrase filter → DataFrame[doc_id] of docs where
    ``terms`` appear at consecutive positions (within ``slop``).

    Plan: term-pruned scan of the phrase terms' blocks (positions
    column included) → executor-side vectorized decode (segmented
    position cumsum, no per-posting Python) → ONE doc_id-keyed hash
    aggregate bounded by the phrase terms' df → per-doc
    ``phrase_reach`` DP (the exact driver-evaluator semantics) over only
    the docs that contain every phrase term. Driver traffic: zero —
    the result stays distributed for the caller's join.

    When ``dfs`` is provided and the rarest phrase term's df fits the
    broadcast budget, the candidate doc set is the conjunction's lower
    bound: a docs-only decode of that one term broadcast-semi-joins
    the position rows BEFORE the shuffle, cutting its volume from
    Σ df(term) to ~|terms|·df(rarest). A phrase pairing a josa-class
    hot term with any content word (the standard Korean query shape)
    therefore shuffles the content word's df, not the josa's. All
    phrase terms hot → falls back to the plain doc_id aggregate,
    which is still fully distributed."""
    uniq = sorted(set(terms))
    slots = tuple(terms)

    def decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from ..index.codec import decode_block_arrays

        for pdf in batches:
            ids_out, terms_out, pos_out = [], [], []
            for term, dd, tfs_b, pos_b in zip(
                pdf["term"], pdf["doc_deltas"], pdf["tfs"], pdf["pos_deltas"]
            ):
                docs, _, _, positions = decode_block_arrays(
                    bytes(dd), bytes(tfs_b), pos_deltas=bytes(pos_b)
                )
                ids_out.append(docs)
                terms_out.extend([term] * len(docs))
                pos_out.extend(positions)
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_out),
                        "term": pd.Series(terms_out, dtype="object"),
                        "positions": pd.Series(pos_out, dtype="object"),
                    }
                )

    decoded = (
        blocks.filter(F.col("term").isin(uniq))
        .select("term", "doc_deltas", "tfs", "pos_deltas")
        .mapInPandas(decode, _PHRASE_DECODE_SCHEMA)
    )
    # pruning only when the caller's df dict covers EVERY phrase term;
    # a term missing from the dict is unknown (skip pruning), a term
    # with df 0/None is known-absent (the phrase can't match at all)
    if dfs is not None and all(t in dfs for t in uniq):
        if any(not dfs[t] for t in uniq):
            return blocks.sparkSession.createDataFrame([], "doc_id bigint")
        rarest, df_min = min(
            ((t, dfs[t]) for t in uniq), key=lambda td: td[1]
        )
        if df_min <= broadcast_df_max and len(uniq) > 1:
            rare_docs = decoded_doc_ids(blocks, [rarest])
            decoded = decoded.join(F.broadcast(rare_docs), "doc_id")
    # every (doc, term) pair lives in exactly one block → one entry per
    # term; docs missing any phrase term are dropped before the DP.
    # array<struct> (not MapType): struct→dict is the stable Arrow→
    # pandas conversion across pyarrow versions
    per_doc = (
        decoded.groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("term"), F.col("positions"))
            ).alias("tps")
        )
        .filter(F.size("tps") == len(uniq))
    )

    def check(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from .executor import phrase_reach

        for pdf in batches:
            keep = []
            for doc_id, tps in zip(pdf["doc_id"], pdf["tps"]):
                pm = {e["term"]: e["positions"] for e in tps}
                pos_lists = [
                    np.asarray(pm[t], dtype=np.int64) for t in slots
                ]
                if phrase_reach(pos_lists, slop):
                    keep.append(int(doc_id))
            yield pd.DataFrame({"doc_id": pd.Series(keep, dtype="int64")})

    return per_doc.mapInPandas(check, "doc_id bigint")


def _ast_expr(node, scores, phrase_flags=None):
    """AST → Column over the per-doc ``scores`` map (term → partial).
    Null means "does not match": Term is a map lookup; Or = greatest
    (max of matching children — null only when none match); And = sum,
    null unless every child matches; Sum = the sum, null unless at
    least ``min_should_match`` children match; Phrase = 0.0 when its
    flag column (``phrase_flags``, from :func:`phrase_match_docs`) is
    true, null otherwise — the boost-0 match_phrase semantics. Mirrors
    ``executor.py``'s evaluator and the scoring spec in ``ast.py``."""
    if isinstance(node, Term):
        return F.element_at(scores, node.term)
    if isinstance(node, Phrase):
        # outer-joined flag: null ≡ false (doc not in the phrase set)
        flag = phrase_flags[node]
        return F.when(F.coalesce(flag, F.lit(False)), F.lit(0.0))
    if isinstance(node, Not):
        # must_not: matches (contributing 0.0) exactly when the negated
        # subtree does NOT match — null (= no match) inverts to 0.0.
        # element_at on a null scores map is null, so docs with no
        # partials row at all correctly count as "negated term absent".
        inner = _ast_expr(node.child, scores, phrase_flags)
        return F.when(inner.isNull(), F.lit(0.0))
    children = [_ast_expr(c, scores, phrase_flags) for c in node.children]
    if not children:
        return F.lit(None).cast("double")
    if isinstance(node, Or):
        return F.greatest(*children) if len(children) > 1 else children[0]
    if isinstance(node, (Sum, DisMax)):
        # any matching child matches; Sum = the child-order sum, DisMax
        # = max + tb*(sum - max). Non-matching children coalesce to
        # +0.0 — an exact IEEE identity, so the driver evaluator (which
        # sums only matching children) scores bit-for-bit the same.
        any_m = reduce(lambda a, b: a | b, (c.isNotNull() for c in children))
        cz = [F.coalesce(c, F.lit(0.0)) for c in children]
        total = reduce(lambda a, b: a + b, cz)
        if isinstance(node, Sum):
            if node.min_should_match > 1:
                n = reduce(lambda a, b: a + b, (c.isNotNull().cast("int") for c in children))
                return F.when(n >= node.min_should_match, total)
            return F.when(any_m, total)
        best = F.greatest(*cz) if len(cz) > 1 else cz[0]
        return F.when(
            any_m, best + F.lit(float(node.tie_breaker)) * (total - best)
        )
    matched = reduce(lambda a, b: a & b, (c.isNotNull() for c in children))
    total = reduce(lambda a, b: a + b, children)
    return F.when(matched, total)


def _split_phrases(ast):
    """Routable AST → (scoring sub-AST | None, [top-level Phrases]).
    Phrases are score-neutral (boost 0) filter clauses; the scoring
    sub-AST keeps the remaining children in their original order so
    float summation matches the driver tree bit-for-bit (the dropped
    phrase children contributed exactly ``+ 0.0``)."""
    if isinstance(ast, Phrase):
        return None, [ast]
    if isinstance(ast, And):
        phrases = [c for c in ast.children if isinstance(c, Phrase)]
        rest = tuple(c for c in ast.children if not isinstance(c, Phrase))
        if phrases:
            return (And(rest) if rest else None), phrases
    return ast, []


def _term_leaves(node) -> set[str]:
    """Terms appearing as Term LEAVES (phrase members excluded — a
    phrase's terms contribute match positions, not score partials)."""
    if isinstance(node, Term):
        return {node.term}
    if isinstance(node, Not):
        return _term_leaves(node.child)
    if isinstance(node, (And, Or, Sum, DisMax)):
        out: set[str] = set()
        for c in node.children:
            out |= _term_leaves(c)
        return out
    return set()


def _collect_phrases(node, out: list) -> None:
    """Distinct Phrase nodes in tree order (dedup by value: equal
    phrases share one flag column and one evaluation)."""
    if isinstance(node, Phrase):
        if node not in out:
            out.append(node)
    elif isinstance(node, Not):
        _collect_phrases(node.child, out)
    elif isinstance(node, (And, Or, Sum, DisMax)):
        for c in node.children:
            _collect_phrases(c, out)


def _required_phrases(node, out: set, required: bool = True) -> None:
    """Phrases that are conjunctively REQUIRED — reachable from the
    root through And nodes only. A required phrase's match set bounds
    the whole result, so it can join ``right_outer`` (keep exactly its
    docs) instead of ``full_outer``. Anything under an Or is treated
    as optional (conservative for a single-child Or — still correct,
    the null filter handles it)."""
    if isinstance(node, Phrase):
        if required:
            out.add(node)
    elif isinstance(node, Not):
        # a negated phrase's match set must NOT bound the result — docs
        # outside it are exactly the matches
        _required_phrases(node.child, out, False)
    elif isinstance(node, And):
        for c in node.children:
            _required_phrases(c, out, required)
    elif isinstance(node, (Or, Sum, DisMax)):
        for c in node.children:
            _required_phrases(c, out, False)


def _scored_docs_general(
    ast,
    blocks: DataFrame,
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
) -> DataFrame | None:
    """General distributed (doc_id, score) relation: handles Phrase
    nodes at ANY tree position (Or-nested multi-word synonyms, phrases
    inside nested conjunctions). Each distinct Phrase's match set
    (:func:`phrase_match_docs`) joins as a boolean flag column:
    FULL OUTER when the phrase is an optional alternative (a doc
    matching only the phrase must still surface, e.g.
    ``Or(Phrase(...), Term(t))``), RIGHT OUTER when it is conjunctively
    required (:func:`_required_phrases`) — keeping exactly the phrase's
    docs bounds the relation by its df instead of the union of all
    match sets. The score expression renders the tree over the scores
    map + flags; non-matching docs evaluate to null and are filtered.
    Joins are on doc_id and each phrase set is bounded by its rarest
    term's df, so the plan stays fully distributed with no driver
    fetch."""
    leaves = _term_leaves(ast)
    phrases: list[Phrase] = []
    _collect_phrases(ast, phrases)
    rel = None
    if leaves:
        parts = _partials(
            blocks,
            {t: dfs.get(t, 0) for t in sorted(leaves)},
            n_docs,
            avgdl,
        )
        rel = parts.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("term"), F.col("partial")))
            ).alias("scores")
        )
    required: set = set()
    _required_phrases(ast, required)
    # optional phrases first (full_outer accumulates the union), then
    # required ones (right_outer cuts to exactly the phrase's docs) in
    # DESCENDING rarest-member df so the final relation is bounded by
    # the rarest required phrase — at web scale a required rare phrase
    # caps every downstream row count
    ordered = [p for p in phrases if p not in required] + sorted(
        (p for p in phrases if p in required),
        key=lambda p: -min(dfs.get(t, 0) for t in p.terms),
    )
    flags: dict[Phrase, Column] = {}
    for i, p in enumerate(ordered):
        col = f"_ph{i}"
        pm = phrase_match_docs(blocks, p.terms, p.slop, dfs=dfs).withColumn(
            col, F.lit(True)
        )
        how = "right_outer" if p in required else "full_outer"
        rel = pm if rel is None else rel.join(pm, "doc_id", how)
        flags[p] = F.col(col)
    if rel is None:
        return None
    if "scores" not in rel.columns:
        rel = rel.withColumn("scores", F.lit(None).cast("map<string,double>"))
    return rel.select(
        "doc_id", _ast_expr(ast, F.col("scores"), flags).alias("score")
    ).filter(F.col("score").isNotNull())


def _scored_docs(
    ast,
    blocks: DataFrame,
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
) -> DataFrame | None:
    """Distributed (doc_id, score) relation for ANY Term/And/Or/Phrase
    AST — per-doc term→score map (one hash aggregate over the decoded
    partials) + a driver-composed Column expression for the tree.
    Top-level Phrase clauses (the reference's standard emitted shape)
    become score-neutral INNER joins against
    :func:`phrase_match_docs`; nested phrases route through
    :func:`_scored_docs_general`'s flag columns. ``None`` means the
    empty AST (no docs). Shared by the top-k and count evaluators."""
    validate_ast(ast)
    from .ast import ast_terms

    if not _fast_shape(ast):
        return _scored_docs_general(ast, blocks, dfs, n_docs, avgdl)
    scoring_ast, phrases = _split_phrases(ast)
    scored = None
    if scoring_ast is not None:
        score_terms = ast_terms(scoring_ast)
        parts = _partials(
            blocks,
            {t: dfs.get(t, 0) for t in score_terms},
            n_docs,
            avgdl,
        )
        per_doc = parts.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("term"), F.col("partial")))
            ).alias("scores")
        )
        scored = per_doc.select(
            "doc_id", _ast_expr(scoring_ast, F.col("scores")).alias("score")
        ).filter(F.col("score").isNotNull())
    for p in phrases:
        pm = phrase_match_docs(blocks, p.terms, p.slop, dfs=dfs)
        if scored is None:
            # all-phrase query: every match scores 0.0 (boost 0), the
            # driver tree's exact behavior
            scored = pm.withColumn("score", F.lit(0.0))
        else:
            scored = scored.join(pm, "doc_id")
    return scored


def distributed_ast_topk(
    ast,
    blocks: DataFrame,
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Distributed top-k over :func:`_scored_docs`, of the docs ranked
    after the ``after = (score, doc_id)`` cursor when one is given (the
    keyset filter sits below the TakeOrdered). Rank-identical to
    ``execute_ast`` on EVERY Term/And/Or/Sum/Phrase shape
    (property-tested in ``tests/test_query_router.py``)."""
    scored = _scored_docs(ast, blocks, dfs, n_docs, avgdl)
    if scored is None:
        return []
    rows = keyset_page(scored, *(after or (None, None)), k=k).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def count_ast_blocks(
    ast,
    blocks: DataFrame,
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
) -> int:
    """Distributed match count for any AST (Q8
    ``trackTotalHits`` over the FULL query tree — synonym Or-groups
    and boost-0 phrase filters included; a bag is a ``Sum``). One row
    to the driver."""
    scored = _scored_docs(ast, blocks, dfs, n_docs, avgdl)
    return 0 if scored is None else int(scored.count())
