"""Property test: block-max WAND is rank-identical to brute-force BM25
over arbitrary random posting sets (no Spark — cursors built directly
from encoded blocks, exercising codec + skipping logic together)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mecab_ko_lucene_analyzer_spark.index.codec import encode_block, encode_varints
from mecab_ko_lucene_analyzer_spark.query.ast import And, DisMax, Or, Sum, Term
from mecab_ko_lucene_analyzer_spark.query.bm25 import lucene_idf
from mecab_ko_lucene_analyzer_spark.query.wand import TermCursor, _Block, wand_topk

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


def _build_cursor(term, tfs, doc_lens, n_docs, avgdl, block_size):
    docs = np.array(sorted(tfs), dtype=np.uint64)
    if docs.size == 0:
        return None
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
    df = len(docs)
    return TermCursor(
        term=term,
        idf=lucene_idf(n_docs, df),
        blocks=blocks,
        avgdl=avgdl,
    )


def _brute_force(postings, query, doc_lens, n_docs, avgdl, k):
    scores = {}
    for t in query:
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
    """Every strategy — the skipping WAND loop, the vectorized exact
    TAAT path, and auto dispatch — must rank-match brute-force BM25.
    Strategies are forced explicitly: tiny random payloads would
    otherwise route auto to TAAT only and leave the WAND loop without
    property coverage."""
    n_docs, doc_lens, postings, query, k, block_size = data
    avgdl = sum(doc_lens) / n_docs

    def cursors():
        return [
            c
            for c in (
                _build_cursor(t, postings[t], doc_lens, n_docs, avgdl, block_size)
                for t in query
            )
            if c is not None
        ]

    expected = _brute_force(postings, query, doc_lens, n_docs, avgdl, k)
    for strategy in ("auto", "wand", "taat"):
        got = wand_topk(cursors(), k, strategy=strategy)
        assert [d for d, _ in got] == [d for d, _ in expected], strategy
        for (_, s1), (_, s2) in zip(got, expected):
            assert abs(s1 - s2) < 1e-9


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
        groups.append((members, kind))
    top = draw(st.sampled_from([And, Sum]))
    return n_docs, doc_lens, postings, groups, top, k, block_size


@settings(max_examples=200, deadline=None)
@given(and_or_asts())
def test_and_or_evaluator_matches_brute_force(data):
    """The AST evaluator equals the pure-Python scoring spec — docs,
    ranks and bit-identical scores — over arbitrary random postings
    and random AND/SUM-of-(Term|Or|Sum|DisMax) shapes, including groups
    whose terms have no postings at all; and its count is the spec's
    full match-set size."""
    from ast_reference import ast_oracle

    from mecab_ko_lucene_analyzer_spark.query.executor import (
        count_ast_cursors,
        execute_ast_cursors,
    )

    n_docs, doc_lens, postings, groups, top, k, block_size = data
    avgdl = sum(doc_lens) / n_docs

    def cursors():
        out = {}
        for t, tfs in postings.items():
            c = _build_cursor(t, tfs, doc_lens, n_docs, avgdl, block_size)
            if c is not None:
                out[t] = c
        return out

    def node(members, kind):
        if len(members) == 1:
            return Term(members[0])
        terms = tuple(Term(m) for m in members)
        if kind == "or":
            return Or(terms)
        return Sum(terms) if kind == "sum" else DisMax(terms, kind)

    ast = node(*groups[0]) if len(groups) == 1 else top(tuple(node(*g) for g in groups))
    spec_postings = {
        t: {d: [0] * tf for d, tf in tfs.items()} for t, tfs in postings.items()
    }
    want = ast_oracle(ast, spec_postings, doc_lens, n_docs, avgdl)
    assert execute_ast_cursors(ast, cursors(), k=k) == want[:k]
    assert count_ast_cursors(ast, cursors()) == len(want)
