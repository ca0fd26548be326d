"""Property tests of the driver top-k over arbitrary random posting sets
(no Spark — term postings built directly from encoded blocks,
exercising codec and scorer together): the bag top-k is rank-identical
to brute-force BM25, its MaxScore step gives the full evaluation's
bits, and the AST evaluator equals the scoring spec."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mecab_ko_lucene_analyzer_spark.index.codec import encode_block, encode_varints
from mecab_ko_lucene_analyzer_spark.query.ast import And, DisMax, Or, Sum, Term, bag_ast
from mecab_ko_lucene_analyzer_spark.query.bm25 import lucene_idf
from mecab_ko_lucene_analyzer_spark.query.executor import (
    _bag_top_k,
    _evaluate,
    _execute_bound,
    _top_k,
)
from mecab_ko_lucene_analyzer_spark.query.wand import TermPostings, _Block, wand_topk

K1, B = 1.2, 0.75


@st.composite
def corpora(draw):
    n_docs = draw(st.integers(min_value=1, max_value=120))
    n_terms = draw(st.integers(min_value=1, max_value=6))
    doc_lens = [draw(st.integers(min_value=1, max_value=50)) for _ in range(n_docs)]
    postings = {}
    for t in range(n_terms):
        members = draw(
            st.lists(
                st.integers(min_value=0, max_value=n_docs - 1),
                unique=True,
                max_size=n_docs,
            )
        )
        tfs = {d: draw(st.integers(min_value=1, max_value=5)) for d in members}
        postings[f"t{t}"] = tfs
    query = draw(
        st.lists(
            st.sampled_from([f"t{t}" for t in range(n_terms)]),
            min_size=1,
            max_size=n_terms,
            unique=True,
        )
    )
    k = draw(st.integers(min_value=1, max_value=15))
    block_size = draw(st.sampled_from([2, 3, 128]))
    return n_docs, doc_lens, postings, query, k, block_size


def _term_blocks(tfs, doc_lens, avgdl, block_size):
    """``(blocks, df)`` of one term's ``{doc: tf}`` postings, encoded
    as the index stores them, with the block-max impacts."""
    docs = np.array(sorted(tfs), dtype=np.uint64)
    blocks = []
    for i in range(0, len(docs), block_size):
        chunk = docs[i : i + block_size]
        ctf = np.array([tfs[int(d)] for d in chunk], dtype=np.uint64)
        dls = np.array([doc_lens[int(d)] for d in chunk], dtype=np.uint64)
        dd, tt, _ = encode_block(chunk, ctf, [])
        impacts = [
            tf / (tf + K1 * (1 - B + B * dl / avgdl))
            for tf, dl in zip(ctf.tolist(), dls.tolist())
        ]
        blocks.append(
            _Block(int(chunk[0]), dd, tt, encode_varints(dls), max(impacts))
        )
    return blocks, len(docs)


def _bind(postings, doc_lens, n_docs, avgdl, block_size) -> dict:
    """term → (its TermPostings, idf) for every term with postings —
    the evaluator's binding, as ``wand.load_query_postings`` makes it."""
    out = {}
    for t, tfs in postings.items():
        if tfs:
            blocks, df = _term_blocks(tfs, doc_lens, avgdl, block_size)
            out[t] = (TermPostings(blocks, df), lucene_idf(n_docs, df))
    return out


def _brute_force(postings, query, doc_lens, n_docs, avgdl, k):
    scores = {}
    for t in sorted(query):
        tfs = postings[t]
        if not tfs:
            continue
        idf = lucene_idf(n_docs, len(tfs))
        for d, tf in tfs.items():
            s = idf * tf / (tf + K1 * (1 - B + B * doc_lens[d] / avgdl))
            scores[d] = scores.get(d, 0.0) + s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(d, s) for d, s in ranked[:k] if s > 0]


@settings(max_examples=300, deadline=None)
@given(corpora())
def test_wand_rank_identical_on_random_postings(data):
    """``wand_topk`` over a binding of the query's terms (the
    ``load_query_cursors`` shape) ranks the bag exactly like
    brute-force BM25, whatever order the binding lists its terms in."""
    n_docs, doc_lens, postings, query, k, block_size = data
    avgdl = sum(doc_lens) / n_docs
    bound = _bind({t: postings[t] for t in query}, doc_lens, n_docs, avgdl, block_size)
    expected = _brute_force(postings, query, doc_lens, n_docs, avgdl, k)
    got = wand_topk((bound, avgdl), k)
    assert got == wand_topk((dict(reversed(list(bound.items()))), avgdl), k)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, s1), (_, s2) in zip(got, expected):
        assert abs(s1 - s2) < 1e-9


@st.composite
def tied_bags(draw):
    """A random corpus whose query may name absent terms, with some
    docs cloned from one source doc (same doc length and the same tf in
    every term), so that equal scores straddle a cutoff."""
    n_docs, doc_lens, postings, query, _k, block_size = draw(corpora())
    doc_lens = list(doc_lens)
    src = draw(st.integers(min_value=0, max_value=n_docs - 1))
    clones = draw(
        st.lists(st.integers(min_value=0, max_value=n_docs - 1), unique=True, max_size=8)
    )
    for d in clones:
        if d == src:
            continue
        doc_lens[d] = doc_lens[src]
        for tfs in postings.values():
            tfs.pop(d, None)
            if src in tfs:
                tfs[d] = tfs[src]
    query = query + draw(st.lists(st.sampled_from(["absent1", "absent2"]), unique=True))
    m = draw(st.integers(min_value=1, max_value=len(set(query)) + 1))
    return n_docs, doc_lens, postings, query, block_size, m


@settings(max_examples=300, deadline=None)
@given(tied_bags())
def test_maxscore_equals_full_evaluation(data):
    """The MaxScore step of a bag's top-k gives the full evaluation's
    top-k, ``(doc_id, score.hex())`` for every hit: for k from 1 to
    beyond the match count and at every k whose cutoff falls inside a
    group of equal scores; for every ``min_should_match`` from 1 to one
    beyond the terms, with no cursor and with a ``search_after`` cursor
    at the first, middle and last hit and inside every run of equal
    scores; for single-term bags, absent terms and block sizes 2, 3
    and 128."""
    n_docs, doc_lens, postings, query, block_size, m = data
    avgdl = sum(doc_lens) / n_docs
    bound = _bind(postings, doc_lens, n_docs, avgdl, block_size)
    bag = Sum(bag_ast(query).children, m)
    full = _top_k(*_evaluate(bag, bound, avgdl), n_docs + 1)
    ties = [i for i in range(1, len(full)) if full[i][1] == full[i - 1][1]]
    ks = {1, 2, 3, 10, len(full), len(full) + 1, len(full) + 5}
    # a cutoff inside a run of equal scores: θ is one of the tied scores
    ks.update(i + 1 for i in ties)
    cuts = {None, 0, len(full) // 2, len(full) - 1} | {i - 1 for i in ties}
    for cut in cuts:
        if cut is None or 0 <= cut < len(full):
            rest = full if cut is None else full[cut + 1 :]
            after = None if cut is None else full[cut][::-1]
            for k in sorted(ks):
                want = [(d, s.hex()) for d, s in rest[:k]]
                got = _bag_top_k(bag, bound, avgdl, k, after)
                assert [(d, s.hex()) for d, s in got] == want, (k, cut)
                assert _execute_bound(bag, bound, avgdl, k, after) == got
    assert _bag_top_k(bag, bound, avgdl, 0) == []


def test_maxscore_keeps_a_tie_at_the_cutoff_across_terms():
    """Two terms with the same df, tf and doc lengths give every doc
    the same score s, and both terms the same bound ``idf × max
    impact``, which here rounds one ulp below s. Whichever term seeds
    θ = s, the other holds the lowest doc ids (which win the tie) in
    one of the two layouts; a test of its bound against θ without
    slack would call it non-essential and serve the seed's docs."""
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_partial

    k, n_docs, avgdl = 4, 40, 1.5
    doc_lens = [1] * n_docs
    idf = lucene_idf(n_docs, k + 1)
    assert idf * bm25_partial(1.0, 1.0, 1.0, avgdl) < bm25_partial(idf, 1.0, 1.0, avgdl)
    low, high = {d: 1 for d in range(k + 1)}, {d: 1 for d in range(20, 21 + k)}
    for postings in ({"b": low, "c": high}, {"b": high, "c": low}):
        for block_size in (2, 3, 128):
            bound = _bind(postings, doc_lens, n_docs, avgdl, block_size)
            bag = bag_ast(postings)
            full = _top_k(*_evaluate(bag, bound, avgdl), k)
            assert [d for d, _ in full] == list(range(k))
            got = _bag_top_k(bag, bound, avgdl, k)
            assert [(d, s.hex()) for d, s in got] == [(d, s.hex()) for d, s in full]


@st.composite
def and_or_asts(draw):
    """Random AND- or SUM-of-groups ASTs over the corpus's term
    universe: each group is a Term, a synonym Or, a Sum (a disjunctive
    bag) or a DisMax, possibly referencing terms absent from the
    postings (empty branches)."""
    corpus = draw(corpora())
    n_docs, doc_lens, postings, _query, k, block_size = corpus
    universe = sorted(postings) + ["missing1", "missing2"]
    n_groups = draw(st.integers(min_value=1, max_value=4))
    groups = []
    for _ in range(n_groups):
        members = draw(
            st.lists(
                st.sampled_from(universe), min_size=1, max_size=3, unique=True
            )
        )
        kind = draw(st.sampled_from(["or", "sum", 0.0, 0.3, 1.0]))
        m = draw(st.integers(min_value=1, max_value=len(members) + 1))
        groups.append((members, kind, m))
    top_m = draw(st.integers(min_value=1, max_value=n_groups + 1))
    top = draw(st.sampled_from([And, lambda cs: Sum(cs, top_m)]))
    return n_docs, doc_lens, postings, groups, top, k, block_size


@settings(max_examples=200, deadline=None)
@given(and_or_asts())
def test_and_or_evaluator_matches_brute_force(data):
    """The AST evaluator equals the pure-Python scoring spec — docs,
    ranks and bit-identical scores — over arbitrary random postings
    and random AND/SUM-of-(Term|Or|Sum|DisMax) shapes, each Sum with a
    ``min_should_match`` from 1 to one beyond its children, including
    groups whose terms have no postings at all; and its count is the
    spec's full match-set size."""
    from ast_reference import ast_oracle

    n_docs, doc_lens, postings, groups, top, k, block_size = data
    avgdl = sum(doc_lens) / n_docs
    bound = _bind(postings, doc_lens, n_docs, avgdl, block_size)

    def node(members, kind, m):
        if len(members) == 1:
            return Term(members[0])
        terms = tuple(Term(t) for t in members)
        if kind == "or":
            return Or(terms)
        return Sum(terms, m) if kind == "sum" else DisMax(terms, kind)

    ast = node(*groups[0]) if len(groups) == 1 else top(tuple(node(*g) for g in groups))
    spec_postings = {
        t: {d: [0] * tf for d, tf in tfs.items()} for t, tfs in postings.items()
    }
    want = ast_oracle(ast, spec_postings, doc_lens, n_docs, avgdl)
    assert _execute_bound(ast, bound, avgdl, k) == want[:k]
    assert _evaluate(ast, bound, avgdl, scored=False)[0].size == len(want)
