"""AST executor: vectorized evaluation of boolean retrieval trees over
decoded block postings (Q1–Q5 execution).

The driver has two scorers. This evaluator scores every query AST —
Term, And, Or, DisMax, Phrase and must_not — on each term's decoded
postings arrays (``wand.TermPostings``); block-max WAND
(``wand.py::wand_topk``) serves flat disjunctive bags whose postings
exceed ``TAAT_MAX_BYTES``. Scoring semantics are the engine spec
documented in ``ast.py``.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from .ast import And, DisMax, Not, Or, Phrase, Term, ast_terms, validate_ast
from .wand import TermCursor, _decode_term_postings, _top_k, _union, load_query_cursors

__all__ = ["execute_ast", "execute_ast_cursors"]

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
    hit = np.flatnonzero(long_[np.minimum(at, long_.size - 1)] == short)
    return (short[hit], at[hit], hit) if swap else (short[hit], hit, at[hit])


def _has_phrase(node) -> bool:
    if isinstance(node, Phrase):
        return True
    if isinstance(node, Not):
        return _has_phrase(node.child)
    if isinstance(node, (And, Or, DisMax)):
        return any(_has_phrase(c) for c in node.children)
    return False


def _phrase_docs(node: Phrase, cursors: dict[str, TermCursor]) -> np.ndarray:
    """Docs holding every phrase term (``match_phrase(...).boost(0)``,
    DanawaSearchQueryBuilder.java:287-291) at positions that chain
    within the slop. Candidates are the terms' intersected docs; only
    the blocks holding a candidate decode their positions."""
    if any(t not in cursors for t in node.terms):
        return _NO_DOCS
    entries = [cursors[t].postings.decode() for t in node.terms]
    docs = entries[0].docs
    for p in entries[1:]:
        docs = _intersect(docs, p.docs)[0]
    if docs.size == 0:
        return docs
    per_term = [p.positions(np.searchsorted(p.docs, docs)) for p in entries]
    keep = [phrase_reach(pos, node.slop) for pos in zip(*per_term)]
    return docs[np.array(keep, dtype=bool)]


def _evaluate(node, cursors: dict[str, TermCursor], scored: bool = True):
    """(sorted unique docs matching ``node``, their scores):

    * Term: its BM25 partials; a term the index lacks matches nothing.
    * And: positive children intersect left to right, their scores
      adding in child order; each ``Not`` child removes its subtree's
      docs and adds nothing.
    * Or: the max over the matching children.
    * DisMax: ``best + tb·(Σ matching − best)``, summed in child order.
    * Phrase: the position-checked docs, scoring 0.0.

    With ``scored=False`` only the match set is computed (a count, a
    must_not subtree) and the scores are None.
    """
    if isinstance(node, Term):
        c = cursors.get(node.term)
        if c is None:
            return _NO_MATCH
        return _decode_term_postings(c) if scored else (c.postings.decode().docs, None)
    if isinstance(node, Phrase):
        docs = _phrase_docs(node, cursors)
        return docs, (np.zeros(docs.size) if scored else None)
    if isinstance(node, Not):
        raise ValueError("Not must be a direct child of And (validate_ast)")
    if isinstance(node, And):
        positives = [c for c in node.children if not isinstance(c, Not)]
        if not positives:
            return _NO_MATCH
        docs, acc = _evaluate(positives[0], cursors, scored)
        for child in positives[1:]:
            if docs.size == 0:
                break
            c_docs, c_scores = _evaluate(child, cursors, scored)
            docs, i, j = _intersect(docs, c_docs)
            if scored:
                acc = acc[i] + c_scores[j]
        for child in node.children:
            if isinstance(child, Not) and docs.size:
                drop = _intersect(docs, _evaluate(child.child, cursors, False)[0])[1]
                docs, acc = np.delete(docs, drop), (np.delete(acc, drop) if scored else None)
        return docs, acc
    if not node.children:
        return _NO_MATCH
    parts = [_evaluate(c, cursors, scored) for c in node.children]
    if not scored:
        return np.unique(np.concatenate([p[0] for p in parts])), None
    docs, total, best = _union(parts)
    if isinstance(node, DisMax):
        return docs, best + float(node.tie_breaker) * (total - best)
    return docs, best


def execute_ast_cursors(
    ast, cursors: dict[str, TermCursor], k: int = 10
) -> list[tuple[int, float]]:
    """Evaluate an AST over prebuilt term cursors → top-k
    [(doc_id, score)], tie-break (score desc, doc_id asc). The scoring
    half of :func:`execute_ast`, shared with the bulk executor path
    (``batch.py::ast_topk_batch``) where cursors come from a broadcast
    payload instead of a Spark fetch."""
    validate_ast(ast)
    return _top_k(*_evaluate(ast, cursors), k)


def count_ast_cursors(ast, cursors: dict[str, TermCursor]) -> int:
    """Match count over prebuilt cursors: the size of the evaluator's
    match set (Q8 ``trackTotalHits`` with full AST semantics — synonym
    Or-groups and phrase position filters included)."""
    validate_ast(ast)
    return int(_evaluate(ast, cursors, scored=False)[0].size)


def _load_ast_cursors(
    ast, blocks: DataFrame, term_stats: DataFrame, n_docs: int,
    avgdl: float, cache=None
) -> dict[str, TermCursor]:
    """Cursor dict for an AST's terms — positions ride along only when
    a Phrase node needs them. The one cursor-loading recipe shared by
    the top-k and count evaluators (and, via them, the engine)."""
    terms = sorted(ast_terms(ast))
    return {
        c.term: c
        for c in load_query_cursors(
            blocks,
            term_stats,
            n_docs,
            avgdl,
            terms,
            with_positions=_has_phrase(ast),
            cache=cache,
        )
    }


def execute_ast(
    ast,
    blocks: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    cache=None,
) -> list[tuple[int, float]]:
    """Evaluate an AST → top-k [(doc_id, score)], tie-break
    (score desc, doc_id asc)."""
    cursors = _load_ast_cursors(ast, blocks, term_stats, n_docs, avgdl, cache)
    return execute_ast_cursors(ast, cursors, k)


def count_ast(
    ast,
    blocks: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    cache=None,
) -> int:
    """Match count sibling of :func:`execute_ast` — same cursor
    loading, :func:`count_ast_cursors` evaluation."""
    cursors = _load_ast_cursors(ast, blocks, term_stats, n_docs, avgdl, cache)
    return count_ast_cursors(ast, cursors)

