"""AST executor: document-at-a-time evaluation of boolean retrieval
trees over compressed block postings (Q1–Q5 execution).

The flat disjunctive/conjunctive bag-of-terms fast paths go through
block-max WAND (``wand.py``); nested trees (synonym OR, extra-term
subtrees, phrases) run through this generic cursor-tree evaluator.
Scoring semantics are the engine spec documented in ``ast.py``.
"""

from __future__ import annotations

import heapq

import numpy as np

from pyspark.sql import DataFrame

from .ast import And, DisMax, Not, Or, Phrase, Term, ast_terms, validate_ast
from .wand import TermCursor, load_query_cursors

__all__ = ["execute_ast", "execute_ast_cursors", "topk_and", "topk_or"]

_INF = 1 << 62


class _Empty:
    cur_doc = _INF

    def next_geq(self, target: int) -> None:
        pass

    def score(self) -> float:
        return 0.0


class _TermNode:
    def __init__(self, cursor: TermCursor):
        self.c = cursor

    @property
    def cur_doc(self) -> int:
        return self.c.cur_doc

    def next_geq(self, target: int) -> None:
        self.c.next_geq(target)

    def score(self) -> float:
        return self.c.score_current()


class _OrNode:
    def __init__(self, children):
        self.children = children

    @property
    def cur_doc(self) -> int:
        return min(ch.cur_doc for ch in self.children)

    def next_geq(self, target: int) -> None:
        for ch in self.children:
            ch.next_geq(target)

    def score(self) -> float:
        d = self.cur_doc
        return max(ch.score() for ch in self.children if ch.cur_doc == d)


class _DisMaxNode(_OrNode):
    """ES dis_max scorer: best matching child + tie_breaker x the
    rest. Doc alignment is _OrNode's (match = any child matches);
    only the blend differs. tie_breaker=0 degenerates to _OrNode's
    max — the engine's Or semantics — and tie_breaker=1 to a plain
    sum, so the two existing combinators are the node's endpoints."""

    def __init__(self, children, tie_breaker: float = 0.0):
        super().__init__(children)
        self.tb = float(tie_breaker)

    def score(self) -> float:
        d = self.cur_doc
        scores = [ch.score() for ch in self.children if ch.cur_doc == d]
        best = max(scores)
        return best + self.tb * (sum(scores) - best)


class _AndNode:
    def __init__(self, children):
        self.children = children

    @property
    def cur_doc(self) -> int:
        # aligned doc, or advance until aligned/exhausted
        while True:
            docs = [ch.cur_doc for ch in self.children]
            hi = max(docs)
            if hi >= _INF:
                return _INF
            if all(d == hi for d in docs):
                return hi
            for ch in self.children:
                if ch.cur_doc < hi:
                    ch.next_geq(hi)

    def next_geq(self, target: int) -> None:
        for ch in self.children:
            ch.next_geq(target)

    def score(self) -> float:
        return sum(ch.score() for ch in self.children)


def phrase_reach(pos_lists, slop: int = 0) -> bool:
    """Sloppy-phrase position check — forward DP over the per-slot
    sorted position arrays, EXISTS semantics: slot i+1 may sit at any
    position in ``(p_i, p_i + 1 + slop]``. (A greedy earliest-next walk
    is wrong for slop >= 1: picking the earliest candidate in one
    window can dead-end the next window even though a later candidate
    completes the chain.) Pure ndarray-in/bool-out so the driver
    cursor tree (``_PhraseNode``) and the distributed phrase filter
    (``router.phrase_match_docs``) evaluate the exact same semantics."""
    reach = pos_lists[0]
    for ps in pos_lists[1:]:
        if reach.size == 0:
            return False
        lo = np.searchsorted(reach, ps - 1 - slop, "left")
        hi = np.searchsorted(reach, ps - 1, "right")
        reach = ps[hi > lo]
    return reach.size > 0


class _AndNotNode:
    """Conjunction with exclusions (Lucene ``ReqExclScorer`` shape):
    the positive subtree drives iteration; each candidate doc probes
    the negated subtrees with ``next_geq`` — negatives only ever move
    forward, so the walk stays the positive side's complexity plus one
    bounded probe per candidate. Score = the positive side's score
    (``Not`` contributes exactly 0.0, and ``x + 0.0 == x`` bit-for-bit,
    so dropping the zero keeps float parity with the oracle's sum)."""

    def __init__(self, pos, negs):
        self.pos = pos
        self.negs = negs

    @property
    def cur_doc(self) -> int:
        while True:
            d = self.pos.cur_doc
            if d >= _INF:
                return _INF
            if not self._excluded(d):
                return d
            self.pos.next_geq(d + 1)

    def _excluded(self, d: int) -> bool:
        for n in self.negs:
            if n.cur_doc < d:
                n.next_geq(d)
            if n.cur_doc == d:
                return True
        return False

    def next_geq(self, target: int) -> None:
        self.pos.next_geq(target)

    def score(self) -> float:
        return self.pos.score()


class _PhraseNode(_AndNode):
    """Conjunction + consecutive-position check within slop; score 0
    (``match_phrase(...).boost(0)``, DanawaSearchQueryBuilder.java:287-291)."""

    def __init__(self, children, slop: int = 0):
        super().__init__(children)
        self.slop = slop

    @property
    def cur_doc(self) -> int:
        while True:
            d = super().cur_doc
            if d >= _INF:
                return _INF
            if self._phrase_match():
                return d
            super().next_geq(d + 1)

    def _phrase_match(self) -> bool:
        return phrase_reach(
            [ch.c.positions_current() for ch in self.children], self.slop
        )

    def score(self) -> float:
        return 0.0


def _has_phrase(node) -> bool:
    if isinstance(node, Phrase):
        return True
    if isinstance(node, Not):
        return _has_phrase(node.child)
    if isinstance(node, (And, Or, DisMax)):
        return any(_has_phrase(c) for c in node.children)
    return False


def _take_cursor(term: str, cursors: dict[str, TermCursor], used: set[str]):
    """Hand out the dict's cursor on FIRST use and an independent clone
    on every later occurrence of the same term in one AST. Cursors are
    mutable iterators: aliasing one across two tree branches lets a
    Phrase/And branch advance it out from under a sibling Term branch,
    silently dropping matching docs (e.g. the Q2 shape
    ``Or(Term(t), Phrase((s, t)))`` when a synonym phrase contains the
    token's own word). The postings entry is shared (blocks and any
    decoded arrays); only the iteration state is duplicated."""
    c = cursors.get(term)
    if c is None:
        return None
    if term in used:
        return TermCursor(
            term=c.term,
            idf=c.idf,
            blocks=c.blocks,
            k1=c.k1,
            b=c.b,
            avgdl=c.avgdl,
            postings=c.postings,
        )
    used.add(term)
    return c


def _build_tree(node, cursors: dict[str, TermCursor], used: set[str] | None = None):
    if used is None:
        used = set()
    if isinstance(node, Term):
        c = _take_cursor(node.term, cursors, used)
        return _TermNode(c) if c is not None else _Empty()
    if isinstance(node, Phrase):
        children = []
        for t in node.terms:
            c = _take_cursor(t, cursors, used)
            if c is None:
                return _Empty()
            children.append(_TermNode(c))
        return _PhraseNode(children, node.slop)
    if isinstance(node, Not):
        raise ValueError("Not must be a direct child of And (validate_ast)")
    if isinstance(node, And):
        negs = [
            _build_tree(c.child, cursors, used)
            for c in node.children
            if isinstance(c, Not)
        ]
        # a Not over index-absent terms excludes nothing
        negs = [n for n in negs if not isinstance(n, _Empty)]
        positives = [c for c in node.children if not isinstance(c, Not)]
        children = [_build_tree(c, cursors, used) for c in positives]
        if any(isinstance(c, _Empty) for c in children) or not children:
            return _Empty()
        pos = children[0] if len(children) == 1 else _AndNode(children)
        return _AndNotNode(pos, negs) if negs else pos
    children = [_build_tree(c, cursors, used) for c in node.children]
    children = [c for c in children if not isinstance(c, _Empty)]
    if not children:
        return _Empty()
    if isinstance(node, DisMax):
        return _DisMaxNode(children, node.tie_breaker)
    return _OrNode(children)


def _and_or_groups(ast) -> list[list[str]] | None:
    """Decompose the reference's standard query shape —
    ``And(Term | Or(Term...), ...)``, a bare ``Term``, or a bare
    synonym ``Or`` — into term groups for the vectorized evaluator.
    Returns None for any other shape (phrases, nested booleans)."""
    def group_of(node):
        if isinstance(node, Term):
            return [node.term]
        if isinstance(node, Or) and all(
            isinstance(c, Term) for c in node.children
        ):
            return [c.term for c in node.children]
        return None

    g = group_of(ast)
    if g is not None:
        return [g]
    if isinstance(ast, And) and ast.children:
        groups = []
        for child in ast.children:
            g = group_of(child)
            if g is None:
                return None
            groups.append(g)
        return groups
    return None


def _vectorized_and_or_topk(
    groups: list[list[str]], cursors: dict[str, TermCursor], k: int
) -> list[tuple[int, float]]:
    """Exact vectorized evaluation of AND-over-groups with the tree
    evaluator's scoring semantics: a doc matches iff every group has a
    matching member; each group contributes the MAX over its matching
    members (synonym-Or, ``_OrNode.score``); the doc's score is the
    sum over groups in child order (``_AndNode.score``). A group is a
    sorted, unique doc array with its scores — a one-member group is
    its term's decoded postings as they are — and the groups intersect
    left to right, adding each group's scores as they go, so floats
    agree with the tree bit for bit. Replaces the per-posting
    ``next_geq`` Python walk for the serving-dominant query shape."""
    from .wand import _decode_term_postings

    per_group: list[tuple[np.ndarray, np.ndarray]] = []
    for members in groups:
        live = [cursors[t] for t in members if t in cursors]
        if not live:
            return []  # an empty AND branch matches nothing
        parts = [_decode_term_postings(c) for c in live]
        if len(parts) == 1:
            per_group.append(parts[0])
            continue
        docs = np.concatenate([p[0] for p in parts])
        scores = np.concatenate([p[1] for p in parts])
        uniq, inv = np.unique(docs, return_inverse=True)
        gmax = np.full(len(uniq), -np.inf)
        np.maximum.at(gmax, inv, scores)
        per_group.append((uniq, gmax))
    docs, acc = per_group[0]
    for g_docs, g_scores in per_group[1:]:
        docs, i_acc, i_g = np.intersect1d(
            docs, g_docs, assume_unique=True, return_indices=True
        )
        acc = acc[i_acc] + g_scores[i_g]
    order = np.lexsort((docs, -acc))[:k]
    return [(int(docs[i]), float(acc[i])) for i in order]


def execute_ast_cursors(
    ast, cursors: dict[str, TermCursor], k: int = 10, strategy: str = "auto"
) -> list[tuple[int, float]]:
    """Evaluate an AST over prebuilt term cursors → top-k
    [(doc_id, score)], tie-break (score desc, doc_id asc). The
    cursor-tree half of :func:`execute_ast`, shared with the bulk
    executor path (``batch.py::ast_topk_batch``) where cursors come
    from a broadcast payload instead of a Spark fetch.

    ``strategy="auto"``: phrase-free AND/OR shapes under a bounded
    payload take the exact vectorized evaluator (same dispatch
    philosophy as ``wand_topk``'s TAAT path); phrases and nested
    booleans walk the cursor tree. ``"tree"``/``"vectorized"`` force a
    path (tests pin both identical)."""
    from .wand import TAAT_MAX_BYTES

    validate_ast(ast)
    if strategy != "tree":
        groups = _and_or_groups(ast)
        if groups is not None:
            payload = sum(
                cursors[t].postings.doc_bytes
                for t in {m for g in groups for m in g}
                if t in cursors
            )
            if strategy == "vectorized" or payload <= TAAT_MAX_BYTES:
                return _vectorized_and_or_topk(groups, cursors, k)
        elif strategy == "vectorized":
            raise ValueError(
                "AST shape not vectorizable (phrase or nested boolean)"
            )
    root = _build_tree(ast, cursors)
    heap: list[tuple[float, int]] = []
    d = root.cur_doc
    while d < _INF:
        score = root.score()
        item = (score, -d)
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
        root.next_geq(d + 1)
        d = root.cur_doc
    ranked = sorted(heap, key=lambda t: (-t[0], -t[1]))
    return [(-dd, s) for s, dd in ranked]


def count_ast_cursors(ast, cursors: dict[str, TermCursor]) -> int:
    """Match count over prebuilt cursors: walk the tree like
    ``execute_ast_cursors`` but count matching docs instead of keeping
    a score heap (Q8 ``trackTotalHits`` with full AST semantics —
    synonym Or-groups and phrase position filters included)."""
    validate_ast(ast)
    root = _build_tree(ast, cursors)
    n = 0
    d = root.cur_doc
    while d < _INF:
        n += 1
        root.next_geq(d + 1)
        d = root.cur_doc
    return n


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
    loading, :func:`count_ast_cursors` walk."""
    cursors = _load_ast_cursors(ast, blocks, term_stats, n_docs, avgdl, cache)
    return count_ast_cursors(ast, cursors)


def topk_or(blocks, term_stats, n_docs, avgdl, terms, k=10):
    """Disjunctive bag-of-terms → block-max WAND fast path."""
    from .wand import load_query_cursors, wand_topk

    cursors = load_query_cursors(blocks, term_stats, n_docs, avgdl, terms)
    return wand_topk(cursors, k)


def topk_and(blocks, term_stats, n_docs, avgdl, terms, k=10):
    """Conjunctive bag-of-terms (the reference's Q1 semantics)."""
    ast = And(tuple(Term(t) for t in sorted(set(terms))))
    return execute_ast(ast, blocks, term_stats, n_docs, avgdl, k)