"""Boolean retrieval query AST (Q1–Q6).

Re-expresses the reference's ES query construction
(``DanawaSearchQueryBuilder.java``):

* Q1 analyzed AND query — tokens are AND-ed
  (``DanawaSearchQueryBuilder.java:148-216``)
* Q2 synonym OR subquery — token + synonyms under OR; a multi-word
  synonym becomes a phrase (``:326-348``)
* Q3 extra-term subtree — ``OR(original, AND(extra_terms))`` (``:383-426``)
* Q4 phrase — positions-based match with slop, score-neutral
  (boost 0, ``:287-291``)
* Q5 AND/OR combinators (``:471-488``)
* Q6 JSON rendering of the tree (``:221-282``)

Scoring semantics (documented engine spec, mirrored by the oracle):
Term scores BM25; OR scores the max of its matching children (synonyms
behave as one term — Lucene ``SynonymQuery``-style blending is
approximated by max); AND scores the sum of its children and requires
all to match; SUM (ES ``bool.should``) matches when at least
``min_should_match`` children match (one by default) and scores the
sum of its matching children, added in child order — a disjunctive
bag of terms is a SUM (:func:`bag_ast`); PHRASE matches
when the terms occur at consecutive positions within ``slop`` and
contributes 0 to the score.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

__all__ = [
    "Term",
    "Phrase",
    "And",
    "Or",
    "Sum",
    "DisMax",
    "Not",
    "build_query_ast",
    "bag_ast",
    "token_ast",
    "ast_terms",
    "ast_shape",
    "to_json",
    "from_json",
    "validate_ast",
]


@dataclass(frozen=True)
class Term:
    term: str


@dataclass(frozen=True)
class Phrase:
    terms: tuple[str, ...]
    slop: int = 0


@dataclass(frozen=True)
class And:
    children: tuple = ()


@dataclass(frozen=True)
class Or:
    children: tuple = ()


@dataclass(frozen=True)
class Sum:
    """ES ``bool.should`` with ``minimum_should_match``: matches when
    at least ``min_should_match`` children match (any child, at the
    default 1) and scores the sum of the matching children, added in
    child order from 0.0."""

    children: tuple = ()
    min_should_match: int = 1


@dataclass(frozen=True)
class DisMax:
    """ES ``dis_max`` compound: scores as the best matching child plus
    ``tie_breaker ×`` the rest — ``max + tb·(Σ matching − max)``.
    ``tie_breaker=0`` is exactly this engine's :class:`Or` (best-child
    max, the synonym-group semantics of Q2); ``tie_breaker=1`` is a
    plain sum. ES compiles every best_fields ``multi_match`` (the
    shape the reference's builder emits per analyzed term,
    `DanawaSearchQueryBuilder.java:178`) to this node. Children are
    positive scoring clauses (no ``Not`` — ES dis_max has no
    exclusion slot; wrap in a bool/And for that)."""

    children: tuple = ()
    tie_breaker: float = 0.0


@dataclass(frozen=True)
class Not:
    """Exclusion clause — Lucene ``BooleanClause.Occur.MUST_NOT`` / the
    ES bool-query ``must_not`` mode (the reference's query builder
    emits generic bool modes through ``appendJSONQuery``,
    ``DanawaSearchQueryBuilder.java:266-282``; ``Occur`` itself is the
    Lucene clause enum imported at ``TermHighlightingQuery.java:15``).

    Semantics (engine spec, mirrored by the oracle): a ``Not`` child of
    an ``And`` matches a doc iff its subtree does NOT match, and it
    contributes exactly 0.0 to the score — exclusion is a filter, never
    a scoring signal. Placement is the ES shape: ``Not`` may only
    appear as a direct child of an ``And`` that also carries at least
    one positive child (``{"bool": {"must": [...], "must_not":
    [...]}}`` — a bool query of only must_not clauses matches nothing
    rankable); the negated subtree is any positive Term/Phrase/And/Or
    tree (no nested ``Not``). :func:`validate_ast` enforces this."""

    child: object = None


def validate_ast(node) -> None:
    """Raise ``ValueError`` on malformed ``Not`` placement (see
    :class:`Not`), on a ``Sum`` whose ``min_should_match`` is below 1
    and on a node that is none of this module's types.
    Called by both evaluators' entry points so the driver evaluator
    and the distributed scorer reject exactly the same shapes."""

    def check_sum(n):
        if isinstance(n, Sum) and n.min_should_match < 1:
            raise ValueError("Sum.min_should_match must be at least 1")

    def no_not(n):
        if isinstance(n, Not):
            raise ValueError("nested Not is not supported")
        check_sum(n)
        # DisMax included: a Not smuggled under a DisMax inside a
        # negated subtree must fail validation here, not diverge
        # between the driver evaluator and the distributed scorer
        if isinstance(n, (And, Or, Sum, DisMax)):
            for c in n.children:
                no_not(c)
        elif not isinstance(n, (Term, Phrase)):
            raise ValueError(f"unknown query node: {n!r}")

    def walk(n):
        if isinstance(n, Not):
            raise ValueError(
                "Not must be a direct child of And (the ES bool "
                "must/must_not shape)"
            )
        if isinstance(n, And):
            pos = [c for c in n.children if not isinstance(c, Not)]
            if len(pos) < len(n.children) and not pos:
                raise ValueError(
                    "And with only Not children matches nothing rankable"
                    " — add at least one positive clause"
                )
            for c in n.children:
                if isinstance(c, Not):
                    no_not(c.child)
                else:
                    walk(c)
        elif isinstance(n, (Or, Sum, DisMax)):
            check_sum(n)
            # no exclusion slot: every child must be a positive clause
            for c in n.children:
                walk(c)
        elif not isinstance(n, (Term, Phrase)):
            raise ValueError(f"unknown query node: {n!r}")

    walk(node)


def build_query_ast(
    analyzed_tokens: list[dict], exclude_tokens: list[dict] | None = None
) -> And:
    """Analyzed query tokens → AND over per-token subtrees.

    Each token dict may carry ``synonyms: list[str]`` (Q2) and
    ``extra_terms: list[str]`` (Q3). Multi-word synonyms (space-
    separated) become phrases.

    ``exclude_tokens`` (analyzed the same way) become ``must_not``
    clauses: each excluded token's subtree — the SAME token-or-synonyms
    Or-group a positive token builds, so excluding a word excludes its
    synonym surface forms too — is wrapped in :class:`Not` and appended
    to the top-level And. Extra-terms are NOT negated (an extra-term
    subtree is an AND refinement; negating it would exclude docs merely
    for containing the refinement words together).
    """
    clauses = [token_ast(tok) for tok in analyzed_tokens]
    for tok in exclude_tokens or []:
        clauses.append(Not(token_ast(tok, with_extras=False)))
    return And(tuple(clauses))


def token_ast(tok: dict, with_extras: bool = True):
    """One analyzed token's subtree: its Term, or an ``Or`` of the term,
    its synonyms (a multi-word synonym as a Phrase) and, with
    ``with_extras``, the ``And`` of its extra terms."""
    alts: list = [Term(tok["term"])]
    for s in tok.get("synonyms") or []:
        words = s.split()
        alts.append(Phrase(tuple(words)) if len(words) > 1 else Term(s))
    extras = (tok.get("extra_terms") or []) if with_extras else []
    if extras:
        alts.append(And(tuple(Term(e) for e in extras)))
    return alts[0] if len(alts) == 1 else Or(tuple(alts))


def bag_ast(terms) -> Sum:
    """The disjunctive bag of ``terms``: a :class:`Sum` of its sorted
    distinct terms, so a doc's score adds its terms in term order."""
    return Sum(tuple(Term(t) for t in sorted(set(terms))))


def ast_terms(node) -> set[str]:
    """All leaf terms mentioned in the tree (for posting prefetch);
    negated terms included — exclusion is evaluated by probing the
    negated subtree's match set."""
    return set(ast_shape(node)[0])


def ast_shape(node) -> tuple[list[str], bool]:
    """(sorted distinct leaf terms, whether a Phrase node occurs) in
    one walk — what the driver evaluator needs to load the postings,
    positions included only for a phrase."""
    terms: set[str] = set()
    phrase = False
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, Term):
            terms.add(n.term)
        elif isinstance(n, Phrase):
            terms.update(n.terms)
            phrase = True
        elif isinstance(n, Not):
            stack.append(n.child)
        else:
            stack.extend(n.children)
    return sorted(terms), phrase


def to_json(node) -> str:
    """Q6: debuggable JSON rendering."""

    def conv(n):
        if isinstance(n, Term):
            return {"term": n.term}
        if isinstance(n, Phrase):
            return {"phrase": list(n.terms), "slop": n.slop}
        if isinstance(n, And):
            return {"and": [conv(c) for c in n.children]}
        if isinstance(n, Or):
            return {"or": [conv(c) for c in n.children]}
        if isinstance(n, Sum):
            out = {"sum": [conv(c) for c in n.children]}
            if n.min_should_match > 1:
                out["minimum_should_match"] = n.min_should_match
            return out
        if isinstance(n, DisMax):
            return {
                "dis_max": [conv(c) for c in n.children],
                "tie_breaker": n.tie_breaker,
            }
        if isinstance(n, Not):
            return {"not": conv(n.child)}
        raise TypeError(type(n))

    return json.dumps(conv(node), ensure_ascii=False)


def from_json(spec: str | dict):
    """Q7: parse a JSON query spec (the CLI/REST input format,
    ``DanawaSearchQueryBuilder.java:101-143`` parses the ES analog) back
    into the AST. Accepts the same shape ``to_json`` emits."""
    import json as _json

    node = _json.loads(spec) if isinstance(spec, str) else spec

    def conv(n):
        if "term" in n:
            return Term(n["term"])
        if "phrase" in n:
            return Phrase(tuple(n["phrase"]), int(n.get("slop", 0)))
        if "and" in n:
            return And(tuple(conv(c) for c in n["and"]))
        if "or" in n:
            return Or(tuple(conv(c) for c in n["or"]))
        if "sum" in n:
            return Sum(
                tuple(conv(c) for c in n["sum"]),
                int(n.get("minimum_should_match", 1)),
            )
        if "dis_max" in n:
            return DisMax(
                tuple(conv(c) for c in n["dis_max"]),
                float(n.get("tie_breaker", 0.0)),
            )
        if "not" in n:
            return Not(conv(n["not"]))
        raise ValueError(f"unknown node: {n}")

    return conv(node)
