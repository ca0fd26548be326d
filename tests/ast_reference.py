"""Pure-Python ground truth for the driver's AST scoring spec
(``query/ast.py``), over a plain postings dict: no codec, no cursors,
no numpy. Scores add in child order from 0.0, exactly as the spec
states them, so the evaluator must match it bit for bit."""

import itertools

from mecab_ko_lucene_analyzer_spark.query.ast import And, DisMax, Not, Or, Phrase, Sum, Term
from mecab_ko_lucene_analyzer_spark.query.bm25 import lucene_idf

K1, B = 1.2, 0.75


def postings_from_tokens(docs: dict) -> tuple[dict, dict]:
    """``{doc: [token records]}`` → (``{term: {doc: [positions]}}``,
    ``{doc: doc_len}``)."""
    postings: dict = {}
    for d, toks in docs.items():
        for t in toks:
            postings.setdefault(t["term"], {}).setdefault(d, []).append(t["position"])
    return postings, {d: len(toks) for d, toks in docs.items()}


def ast_oracle(ast, postings, doc_lens, n_docs, avgdl, k=None, k1=K1, b=B):
    """Every doc matching ``ast`` as ``[(doc, score)]`` by (score desc,
    doc asc), the first ``k``. ``postings`` is ``{term: {doc:
    [positions]}}`` (tf = the list's length)."""

    def term_score(term, d):
        occ = postings.get(term, {})
        if d not in occ:
            return None
        tf, dl = len(occ[d]), doc_lens[d]
        return lucene_idf(n_docs, len(occ)) * tf / (tf + k1 * (1 - b + b * dl / avgdl))

    def phrase(node, d):
        cands = [sorted(postings.get(t, {}).get(d, [])) for t in node.terms]
        for chain in itertools.product(*cands):
            if all(
                chain[i] < chain[i + 1] <= chain[i] + 1 + node.slop
                for i in range(len(chain) - 1)
            ):
                return 0.0
        return None

    def score(node, d):
        """The doc's score, or None when the node does not match it."""
        if isinstance(node, Term):
            return term_score(node.term, d)
        if isinstance(node, Phrase):
            return phrase(node, d)
        if isinstance(node, Not):
            return None if score(node.child, d) is not None else 0.0
        children = [score(c, d) for c in node.children]
        if isinstance(node, And):
            if not children or any(s is None for s in children):
                return None
            total = 0.0
            for c, s in zip(node.children, children):
                if not isinstance(c, Not):
                    total += s
            return total
        matching = [s for s in children if s is not None]
        if len(matching) < getattr(node, "min_should_match", 1):
            return None
        best = max(matching)
        if isinstance(node, Or):
            return best
        total = 0.0
        for s in matching:
            total += s
        if isinstance(node, Sum):
            return total
        assert isinstance(node, DisMax)
        return best + node.tie_breaker * (total - best)

    universe = sorted({d for occ in postings.values() for d in occ})
    hits = [(d, s) for d in universe if (s := score(ast, d)) is not None]
    hits.sort(key=lambda t: (-t[1], t[0]))
    return hits if k is None else hits[:k]
