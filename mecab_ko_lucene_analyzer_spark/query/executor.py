"""AST executor: vectorized evaluation of boolean retrieval trees over
decoded block postings (Q1–Q5 execution).

This evaluator scores every driver query — Term, And, Or, Sum, DisMax,
Phrase and must_not; a disjunctive bag of terms is a ``Sum``
(``ast.bag_ast``) — on each term's decoded postings arrays. The serving
path binds each term's cached ``wand.TermPostings`` entry straight to
the term's idf (``wand.load_query_postings``); the bulk executor
(``batch.py``) binds one entry per broadcast term per task. A warm
entry's docs and BM25 scores are arrays it already holds.

The top-k of a bag (a ``Sum`` of two or more ``Term`` s, with any
``min_should_match``) takes one MaxScore step (Turtle & Flood 1995,
:func:`_bag_top_k`): the k-th best exact score of the highest-bound
terms' docs is a cutoff, and only docs of the terms needed to reach it
are scored. Every other root is evaluated in full. Both give the same
bits. A ``search_after`` cursor ``(score, doc_id)`` cuts the ranking to
the docs after it before the top-k is taken (:func:`_after`).
Scoring semantics are the engine spec documented in ``ast.py``.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from .ast import And, DisMax, Not, Phrase, Sum, Term, ast_shape, validate_ast
from .wand import load_query_postings

__all__ = ["execute_ast", "count_ast"]

_NO_DOCS = np.empty(0, dtype=np.int64)
_NO_MATCH = (_NO_DOCS, np.empty(0))


def phrase_reach(pos_lists, slop: int = 0) -> bool:
    """Sloppy-phrase position check — forward DP over the per-slot
    sorted position arrays, EXISTS semantics: slot i+1 may sit at any
    position in ``(p_i, p_i + 1 + slop]``. (A greedy earliest-next walk
    is wrong for slop >= 1: picking the earliest candidate in one
    window can dead-end the next window even though a later candidate
    completes the chain.) Pure ndarray-in/bool-out so the driver
    evaluator (:func:`_phrase_docs`) and the distributed phrase filter
    (``router.phrase_match_docs``) evaluate the exact same semantics."""
    reach = pos_lists[0]
    for ps in pos_lists[1:]:
        if reach.size == 0:
            return False
        lo = np.searchsorted(reach, ps - 1 - slop, "left")
        hi = np.searchsorted(reach, ps - 1, "right")
        reach = ps[hi > lo]
    return reach.size > 0


def _intersect(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(common docs, their indexes in ``a``, in ``b``) of two sorted,
    unique doc arrays — the output of ``np.intersect1d(a, b,
    assume_unique=True, return_indices=True)``. Each doc of the shorter
    array is looked up in the longer one by binary search, so the cost
    is O(short · log long) and nothing is re-sorted (the advance() of a
    Lucene conjunction, vectorized)."""
    swap = a.size > b.size
    short, long_ = (b, a) if swap else (a, b)
    at = np.searchsorted(long_, short)
    # an empty ``long_`` means an empty ``short``: every index is empty
    hit = np.flatnonzero(long_.take(at, mode="clip") == short)
    return (short[hit], at[hit], hit) if swap else (short[hit], hit, at[hit])


def _union(parts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Union of ``(sorted unique docs, scores)`` parts → (docs, each
    doc's matching scores summed, their max). The sum adds the parts in
    their order, starting from 0.0, so it is bit-equal to ``np.add.at``
    over the parts' concatenation."""
    if len(parts) == 1:
        return parts[0][0], parts[0][1], parts[0][1]
    docs = np.unique(np.concatenate([p[0] for p in parts]))
    total = np.zeros(docs.size)
    best = np.full(docs.size, -np.inf)
    for p_docs, p_scores in parts:
        i = np.searchsorted(docs, p_docs)
        total[i] += p_scores
        best[i] = np.maximum(best[i], p_scores)
    return docs, total, best


def _min_match(parts, m: int) -> list:
    """The ``(sorted unique docs, scores)`` parts cut to the docs found
    in at least ``m`` of them (a ``Sum``'s ``min_should_match``); scores
    may be None (a match set only)."""
    docs, n = np.unique(np.concatenate([p[0] for p in parts]), return_counts=True)
    keep = docs[n >= m]
    out = []
    for p_docs, p_scores in parts:
        i = _intersect(p_docs, keep)[1]
        out.append((p_docs[i], None if p_scores is None else p_scores[i]))
    return out


def _after(docs: np.ndarray, scores: np.ndarray, after) -> tuple[np.ndarray, np.ndarray]:
    """The docs strictly after the ``after = (score, doc_id)`` cursor in
    the (score desc, doc_id asc) order — ``score < s or (score == s and
    doc > d)``, ES ``search_after``; all of them when ``after`` is None."""
    if after is None:
        return docs, scores
    s, d = float(after[0]), int(after[1])
    keep = (scores < s) | ((scores == s) & (docs > d))
    return docs[keep], scores[keep]


def _top_k(docs: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    """The k best ``(doc_id, score)`` by (score desc, doc_id asc):
    partition at the k-th score, keep every doc tied with it, then sort
    only those candidates."""
    if k <= 0 or docs.size == 0:
        return []
    if docs.size > k:
        keep = scores >= np.partition(scores, docs.size - k)[docs.size - k]
        docs, scores = docs[keep], scores[keep]
    order = np.lexsort((docs, -scores))[:k]
    return list(zip(docs[order].tolist(), scores[order].tolist()))


def _phrase_docs(node: Phrase, bound: dict[str, tuple]) -> np.ndarray:
    """Docs holding every phrase term (``match_phrase(...).boost(0)``,
    DanawaSearchQueryBuilder.java:287-291) at positions that chain
    within the slop. Candidates are the terms' intersected docs; only
    the blocks holding a candidate decode their positions."""
    if any(t not in bound for t in node.terms):
        return _NO_DOCS
    entries = [bound[t][0].decode() for t in node.terms]
    docs = entries[0].docs
    for p in entries[1:]:
        docs = _intersect(docs, p.docs)[0]
    if docs.size == 0:
        return docs
    per_term = [p.positions(np.searchsorted(p.docs, docs)) for p in entries]
    keep = [phrase_reach(pos, node.slop) for pos in zip(*per_term)]
    return docs[np.array(keep, dtype=bool)]


def _evaluate(node, bound: dict[str, tuple], avgdl: float, scored: bool = True):
    """(sorted unique docs matching ``node``, their scores), over
    ``bound``: term → (its ``TermPostings``, idf), scored with the
    index's ``avgdl``:

    * Term: its BM25 partials; a term the index lacks matches nothing.
    * And: positive children intersect left to right, their scores
      adding in child order; each ``Not`` child removes its subtree's
      docs and adds nothing.
    * Or: the max over the matching children.
    * Sum: the sum of the matching children, in child order, for the
      docs that match at least ``min_should_match`` of them.
    * DisMax: ``best + tb·(Σ matching − best)``, summed in child order.
    * Phrase: the position-checked docs, scoring 0.0.

    With ``scored=False`` only the match set is computed (a count, a
    must_not subtree) and the scores are None.
    """
    if isinstance(node, Term):
        b = bound.get(node.term)
        if b is None:
            return _NO_MATCH
        p = b[0].decode()
        return p.docs, (p.scores(b[1], avgdl) if scored else None)
    if isinstance(node, Phrase):
        docs = _phrase_docs(node, bound)
        return docs, (np.zeros(docs.size) if scored else None)
    if isinstance(node, Not):
        raise ValueError("Not must be a direct child of And (validate_ast)")
    if isinstance(node, And):
        positives = [c for c in node.children if not isinstance(c, Not)]
        if not positives:
            return _NO_MATCH
        docs, acc = _evaluate(positives[0], bound, avgdl, scored)
        for child in positives[1:]:
            if docs.size == 0:
                break
            c_docs, c_scores = _evaluate(child, bound, avgdl, scored)
            docs, i, j = _intersect(docs, c_docs)
            if scored:
                acc = acc[i] + c_scores[j]
        for child in node.children:
            if isinstance(child, Not) and docs.size:
                drop = _intersect(docs, _evaluate(child.child, bound, avgdl, False)[0])[1]
                docs, acc = np.delete(docs, drop), (np.delete(acc, drop) if scored else None)
        return docs, acc
    if not node.children:
        return _NO_MATCH
    parts = [_evaluate(c, bound, avgdl, scored) for c in node.children]
    if isinstance(node, Sum) and node.min_should_match > 1:
        parts = _min_match(parts, node.min_should_match)
    if not scored:
        return np.unique(np.concatenate([p[0] for p in parts])), None
    docs, total, best = _union(parts)
    if isinstance(node, Sum):
        return docs, total
    if isinstance(node, DisMax):
        return docs, best + float(node.tie_breaker) * (total - best)
    return docs, best


def _sum_at(docs: np.ndarray, parts, m: int) -> tuple[np.ndarray, np.ndarray]:
    """The sorted unique ``docs`` found in at least ``m`` of the
    ``(sorted unique docs, scores)`` parts, and their scores summed over
    the parts they are found in, added in part order from 0.0 —
    bit-equal to :func:`_union`'s total for those docs. Every part is
    looked up by :func:`_intersect`; matches are counted only for
    ``m > 1``."""
    total = np.zeros(docs.size)
    matched = np.zeros(docs.size, dtype=np.int64) if m > 1 else None
    for p_docs, p_scores in parts:
        _, i, j = _intersect(docs, p_docs)
        total[i] += p_scores[j]
        if matched is not None:
            matched[i] += 1
    if matched is None:
        return docs, total
    keep = matched >= m
    return docs[keep], total[keep]


def _bag_top_k(bag: Sum, bound: dict[str, tuple], avgdl: float, k: int, after=None):
    """Top-k of ``bag``, every child a ``Term``, after the ``after``
    cursor (:func:`_after`), by one MaxScore step over the terms' upper
    bounds ``idf × max impact``:

    * the seed is the docs of the highest-bound terms, taken term by
      term until there are ≥ k (a bag with fewer docs is all seed);
      they are scored exactly, and θ is the k-th best score of the seed
      docs that match ``min_should_match`` terms and pass the cursor;
    * the non-essential terms are the longest low-bound prefix whose
      bounds sum below θ: a doc matching only them scores below the
      k-th best, so it cannot enter the top k, ties included;
    * the docs of the other terms not in the seed are scored exactly,
      and the top k is taken over them and the seed.

    When fewer than k seed docs qualify and the seed is not every doc,
    the bag is evaluated in full. Every term is looked up through its
    decoded entry and its kept scores, as :func:`_evaluate` reads them,
    so the sums are bit-equal to the full evaluation's."""
    if k <= 0:
        return []
    children, m = bag.children, bag.min_should_match
    parts = [_evaluate(c, bound, avgdl) for c in children]
    ubs = [
        bound[c.term][1] * bound[c.term][0].max_impact if c.term in bound else 0.0
        for c in children
    ]
    by_ub = sorted(range(len(parts)), key=ubs.__getitem__)
    seed, taken = _NO_DOCS, len(by_ub)
    while taken and seed.size < k:
        taken -= 1
        docs = parts[by_ub[taken]][0]
        seed = np.union1d(seed, docs) if seed.size else docs
    docs, sums = _after(*_sum_at(seed, parts, m), after)
    if docs.size < k:
        if taken:
            docs, sums = _after(*_evaluate(bag, bound, avgdl), after)
        return _top_k(docs, sums, k)
    theta = np.partition(sums, docs.size - k)[docs.size - k]
    n, bound_sum = 0, 0.0
    for i in by_ub[:taken]:
        bound_sum += ubs[i]
        # the slack covers the last-ulp gap between ``idf × max impact``
        # and a stored partial, and the rounding of both sums
        if bound_sum * (1.0 + 1e-9) >= theta:
            break
        n += 1
    more = [parts[i][0] for i in by_ub[n:taken]]
    if more:
        extra, e_sums = _after(
            *_sum_at(np.setdiff1d(np.concatenate(more), seed), parts, m), after
        )
        docs, sums = np.concatenate((docs, extra)), np.concatenate((sums, e_sums))
    return _top_k(docs, sums, k)


def _execute_bound(ast, bound: dict[str, tuple], avgdl: float, k: int, after=None):
    """Top-k [(doc_id, score)] of a validated AST over ``bound``
    (term → (``TermPostings``, idf)) after the ``after`` cursor: a bag
    of two or more terms by :func:`_bag_top_k`, any other root by
    :func:`_evaluate`."""
    if (
        isinstance(ast, Sum)
        and len(ast.children) > 1
        and all(isinstance(c, Term) for c in ast.children)
    ):
        return _bag_top_k(ast, bound, avgdl, k, after)
    return _top_k(*_after(*_evaluate(ast, bound, avgdl), after), k)


def _bind(ast, blocks: DataFrame, n_docs: int, cache) -> dict[str, tuple]:
    """The AST's terms bound by :func:`~.wand.load_query_postings`,
    positions loaded only when a Phrase node needs them."""
    terms, phrase = ast_shape(ast)
    return load_query_postings(blocks, n_docs, terms, phrase, cache)


def execute_ast(
    ast,
    blocks: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    cache=None,
    after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Evaluate an AST → top-k [(doc_id, score)], tie-break
    (score desc, doc_id asc); with an ``after = (score, doc_id)``
    cursor, the top-k of the docs ranked after it (ES
    ``search_after``). Postings come from ``cache`` (no Spark job: its
    direct reader serves the misses, and ``blocks`` is unused), else
    from one term-pruned Spark scan of ``blocks``."""
    validate_ast(ast)
    return _execute_bound(ast, _bind(ast, blocks, n_docs, cache), avgdl, k, after)


def count_ast(
    ast,
    blocks: DataFrame,
    n_docs: int,
    avgdl: float,
    cache=None,
) -> int:
    """Match count sibling of :func:`execute_ast` — same loading; the
    size of the evaluator's match set (Q8 ``trackTotalHits`` with full
    AST semantics — synonym Or-groups and phrase position filters
    included)."""
    validate_ast(ast)
    bound = _bind(ast, blocks, n_docs, cache)
    return int(_evaluate(ast, bound, avgdl, scored=False)[0].size)
