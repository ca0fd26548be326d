"""Regression pins for two bugs a document-at-a-time cursor-tree
executor had, kept as behaviour tests of the AST evaluator:

1. Cursor ALIASING: one mutable term cursor shared across every AST
   occurrence of a term let a Phrase/And branch advance it out from
   under a sibling Term branch — dropping matching docs and assigning
   wrong scores for the Q2 shape ``Or(Term(t), Phrase((s, t)))``
   (a multi-word synonym containing the token's own word,
   ``DanawaSearchQueryBuilder.java:240-305`` builds exactly this).
2. Greedy slop alignment: taking the EARLIEST candidate in each
   window; for slop >= 1 that can dead-end the next window even
   though a later candidate completes the chain (Lucene sloppy
   phrases are EXISTS-semantics over all chains).
"""

import numpy as np

from mecab_ko_lucene_analyzer_spark.index.build import B, K1
from mecab_ko_lucene_analyzer_spark.index.codec import encode_block, encode_varints
from mecab_ko_lucene_analyzer_spark.query.ast import And, Or, Phrase, Term
from mecab_ko_lucene_analyzer_spark.query.bm25 import lucene_idf
from mecab_ko_lucene_analyzer_spark.query.executor import _execute_bound
from mecab_ko_lucene_analyzer_spark.query.wand import TermPostings, _Block

N_DOCS = 20
AVGDL = 4.0


def _posting(occurrences: dict[int, list[int]], doc_len: int = 4):
    """(TermPostings, idf) of {doc_id: [positions]} with real codec
    payloads — one term of the evaluator's binding."""
    docs = np.array(sorted(occurrences), dtype=np.uint64)
    tfs = np.array([len(occurrences[int(d)]) for d in docs], dtype=np.uint64)
    pos = [np.array(occurrences[int(d)], dtype=np.uint64) for d in docs]
    dls = np.full(len(docs), doc_len, dtype=np.uint64)
    dd, tt, pp = encode_block(docs, tfs, pos)
    impacts = [
        tf / (tf + K1 * (1 - B + B * doc_len / AVGDL)) for tf in tfs.tolist()
    ]
    blk = _Block(int(docs[0]), dd, tt, encode_varints(dls), max(impacts), pp)
    return TermPostings([blk], len(docs)), lucene_idf(N_DOCS, len(docs))


def _run(ast, bound):
    return _execute_bound(ast, bound, AVGDL, 10)


def _score(tf: int, df: int, doc_len: int = 4) -> float:
    idf = lucene_idf(N_DOCS, df)
    return idf * tf / (tf + K1 * (1 - B + B * doc_len / AVGDL))


def test_term_reused_in_phrase_branch_keeps_own_cursor():
    """Or(Term(b), Phrase((a, b))): evaluating the phrase branch must
    not lose the Term branch's own matches."""
    bound = {
        "a": _posting({10: [0]}),
        "b": _posting({1: [0, 1, 2], 5: [0, 1], 10: [1]}),
    }
    ast = Or((Term("b"), Phrase(("a", "b"))))
    got = _run(ast, bound)
    docs = [d for d, _ in got]
    assert docs == [1, 5, 10], got  # doc 5 was silently dropped before
    scores = dict(got)
    assert scores[1] == _score(3, 3)
    assert scores[5] == _score(2, 3)
    assert scores[10] == _score(1, 3)  # max(term b, phrase 0)


def test_term_reused_across_and_branches():
    """And(Term(b), Phrase((a, b))) — an aliased cursor made the
    And's alignment loop interfere with itself."""
    bound = {
        "a": _posting({3: [0], 7: [5]}),
        "b": _posting({1: [0], 3: [1], 7: [0]}),
    }
    # phrase a@pos then b@pos+1: doc 3 matches (0 -> 1); doc 7 has
    # b BEFORE a (no window), doc 1 lacks a entirely
    ast = And((Term("b"), Phrase(("a", "b"))))
    got = _run(ast, bound)
    assert [d for d, _ in got] == [3]
    assert got[0][1] == _score(1, 3)


def test_phrase_slop_exists_semantics_not_greedy():
    """Phrase((a, b, c), slop=1) with a@0, b@[1, 2], c@4: the chain
    a@0 -> b@2 -> c@4 is valid, but greedy first-match picks b@1 and
    dead-ends (c window (1, 3] misses c@4) — the doc must match."""
    bound = {
        "a": _posting({1: [0]}),
        "b": _posting({1: [1, 2]}),
        "c": _posting({1: [4]}),
    }
    got = _run(Phrase(("a", "b", "c"), slop=1), bound)
    assert [d for d, _ in got] == [1], got

    # and slop=0 stays strict: consecutive only
    bound0 = {
        "a": _posting({1: [0]}),
        "b": _posting({1: [2]}),
    }
    got0 = _run(Phrase(("a", "b"), slop=0), bound0)
    assert got0 == []


def test_phrase_highlight_slop_backtracks():
    """phrase_highlight_spans shares the DP: with 'a x b b y c'-style
    positions the non-greedy chain must still highlight."""
    from mecab_ko_lucene_analyzer_spark.query.highlight import (
        phrase_highlight_spans,
    )

    # whitespace-ish Korean-free text goes through the char-class
    # tokenizer: 'aa bb bb cc' gives positions 0..3; slop=1 chain
    # aa@0 -> bb@2 -> cc@3 exists even though greedy picks bb@1 and
    # (for a 3-term window test) could dead-end. Construct the dead-end:
    # terms (aa, bb, cc), occurrences aa@0, bb@[1,2], cc@4.
    text = "aa bb bb zz cc"
    spans = phrase_highlight_spans(text, ["aa", "bb", "cc"], slop=1)
    # aa@0 -> bb@2 (chars 6-8) -> cc@4 (chars 12-14); bb@1 (chars 3-5)
    # participates in NO complete chain (its cc window (1,3] has no cc)
    assert (0, 2) in spans and (6, 8) in spans and (12, 14) in spans
    assert (3, 5) not in spans
