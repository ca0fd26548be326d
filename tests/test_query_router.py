"""High-df query routing (round-4): hot terms must never collect their
blocks to the driver; the distributed scorer must stay rank-identical
to the driver evaluator and the brute-force oracle."""

import shutil

import pytest

from mecab_ko_lucene_analyzer_spark.analysis.dictionary import (
    AnalyzerOption,
    SynonymDictionary,
)
from mecab_ko_lucene_analyzer_spark.analysis.tokenizer import token_records
from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
from mecab_ko_lucene_analyzer_spark.index import build_and_write
from mecab_ko_lucene_analyzer_spark.query import bm25_oracle
from mecab_ko_lucene_analyzer_spark.query.ast import (
    And,
    DisMax,
    Not,
    Or,
    Phrase,
    Sum,
    Term,
    bag_ast,
)
from mecab_ko_lucene_analyzer_spark.query.executor import count_ast, execute_ast
from mecab_ko_lucene_analyzer_spark.query.router import (
    count_ast_blocks,
    distributed_ast_topk,
    term_dfs,
)
from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

N_DOCS = 120
BASE = "/tmp/test_query_router"

QUERIES = [
    ["spark", "index"],
    ["데이터", "처리", "시스템", "웹페이지"],
    ["는"],  # hot josa term — exactly the 10^12-doc scale-killer shape
    ["없는단어쿼리"],
]


@pytest.fixture(scope="module")
def index_base(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    pages = synthesize_webpages(spark, N_DOCS, partitions=5)
    build_and_write(pages, BASE, lang_filter=None, with_blocks=True, hot_min_df=30)
    return BASE


@pytest.fixture(scope="module")
def serving(spark, index_base):
    blocks = spark.read.parquet(f"{BASE}/blocks").cache()
    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    return blocks, term_stats, corpus["n_docs"], corpus["avgdl"]


@pytest.mark.parametrize("terms", QUERIES, ids=["+".join(q) for q in QUERIES])
def test_bm25_topk_blocks_rank_identical(spark, serving, terms):
    """The distributed scorer over a disjunctive bag (its ``Sum``)
    ranks like the brute-force oracle, and equals the driver evaluator
    bit for bit: its Column sum adds the same partials in the same
    order as the evaluator's union (the hot josa query included)."""
    blocks, term_stats, n_docs, avgdl = serving
    dfs = term_dfs(term_stats, terms)
    got = distributed_ast_topk(bag_ast(terms), blocks, dfs, n_docs, avgdl, k=10)
    assert got == execute_ast(bag_ast(terms), blocks, n_docs, avgdl, k=10)

    pages = synthesize_webpages(spark, N_DOCS, partitions=5)
    rows = sorted(pages.select("url", "text").collect(), key=lambda r: r["url"])
    token_lists = {
        i: [t["term"] for t in token_records(r["text"])] for i, r in enumerate(rows)
    }
    oracle = bm25_oracle(token_lists, terms, k=10)
    assert [d for d, _ in got] == [d for d, _ in oracle]


ASTS = [
    And((Term("데이터"), Term("처리"))),
    And((Or((Term("검색"), Term("서치"))), Term("엔진"))),
    Or((Term("spark"), And((Term("데이터"), Term("시스템"))))),
    And((Term("는"), Term("데이터"))),  # hot josa inside a conjunction
    # top-level phrases route too (r4: phrase_match_docs join) — the
    # reference's standard AND(terms)+boost-0 match_phrase shape
    Phrase(("데이터", "처리")),
    And((Term("시스템"), Phrase(("데이터", "처리")))),
    And((Term("데이터"), Phrase(("는", "데이터")))),  # hot term in phrase
    And((Phrase(("데이터", "처리"), slop=1), Term("데이터"))),
    # nested phrases route via the general flag-column plan (r4):
    # Or-nested multi-word synonym, phrase inside a nested And, and a
    # doc that matches ONLY the phrase arm of an Or must all surface
    And((Or((Term("검색"), Phrase(("데이터", "처리")))), Term("엔진"))),
    Or((Phrase(("데이터", "처리")), Term("없는말"))),  # phrase-only matches
    Or((Phrase(("데이터", "처리")), And((Term("검색"), Term("엔진"))))),
    And((Or((Phrase(("는", "데이터")), Term("검색"))), Term("데이터"))),
    Or((Phrase(("데이터", "처리")), Phrase(("검색", "엔진")))),
    # REQUIRED phrase inside the general plan (a nested-phrase sibling
    # forces the general route; the required one right-outer-joins)
    And((Phrase(("데이터", "처리")), Or((Phrase(("검색", "엔진")), Term("시스템"))))),
    And((Phrase(("는", "데이터")), Or((Phrase(("데이터", "처리")), Term("없는말"))))),
    And(
        (
            Phrase(("데이터", "처리")),
            Phrase(("는", "데이터")),
            Or((Term("검색"), Phrase(("검색", "엔진")))),
        )
    ),
    # must_not clauses (session 13): fast plan (term exclusion), hot
    # josa exclusion, Or-group exclusion, negated phrase (general
    # plan), and a required-phrase-only positive beside a Not — docs
    # matching the phrase but carrying NO scoring leaf must surface
    And((Term("데이터"), Not(Term("검색")))),
    And((Term("데이터"), Not(Term("는")))),  # excluding the hot josa
    And((Or((Term("검색"), Term("서치"))), Term("데이터"), Not(Or((Term("엔진"), Term("시스템")))))),
    And((Term("데이터"), Not(Phrase(("검색", "엔진"))))),
    And((Phrase(("데이터", "처리")), Not(Term("검색")))),
    And((Term("시스템"), Phrase(("데이터", "처리")), Not(Term("없는말")))),
    # dis_max (session 16): tie_breaker blends; nested under And;
    # phrase child (general flag plan); hot-term clause
    DisMax((Term("데이터"), Term("검색")), tie_breaker=0.3),
    DisMax((And((Term("데이터"), Term("시스템"))), Term("검색")), tie_breaker=0.5),
    And((Term("데이터"), DisMax((Term("검색"), Term("엔진")), tie_breaker=0.7))),
    DisMax((Phrase(("데이터", "처리")), Term("검색")), tie_breaker=0.4),
    DisMax((Term("는"), Term("데이터")), tie_breaker=0.2),
    # Sum (bool.should): a bag with the hot josa, nested under And,
    # beside a phrase (general flag plan) and beside a must_not
    Sum((Term("검색"), Term("는"), Term("데이터"))),
    And((Sum((Term("검색"), Term("엔진"))), Term("데이터"))),
    Sum((Phrase(("데이터", "처리")), Term("검색"))),
    And((Sum((Term("데이터"), Term("시스템"))), Not(Term("검색")))),
]


@pytest.mark.parametrize("ast", ASTS, ids=[f"ast{i}" for i in range(len(ASTS))])
def test_distributed_ast_topk_matches_driver_cursors(spark, serving, ast):
    blocks, term_stats, n_docs, avgdl = serving
    from mecab_ko_lucene_analyzer_spark.query.ast import ast_terms

    dfs = term_dfs(term_stats, sorted(ast_terms(ast)))
    got = distributed_ast_topk(ast, blocks, dfs, n_docs, avgdl, k=10)
    want = execute_ast(ast, blocks, n_docs, avgdl, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, abs=1e-9)


@pytest.mark.parametrize("ast", ASTS, ids=[f"ast{i}" for i in range(len(ASTS))])
def test_count_ast_blocks_matches_driver_cursors(spark, serving, ast):
    """The COUNT path (Q8 trackTotalHits) shares _scored_docs with
    top-k — gate it over every AST shape too, nested/required phrases
    included (a regression that drops 0.0-scoring phrase-only matches
    would silently change counts)."""
    from mecab_ko_lucene_analyzer_spark.query.ast import ast_terms

    blocks, term_stats, n_docs, avgdl = serving
    dfs = term_dfs(term_stats, sorted(ast_terms(ast)))
    got = count_ast_blocks(ast, blocks, dfs, n_docs, avgdl)
    assert got == count_ast(ast, blocks, n_docs, avgdl)


def test_every_ast_shape_is_routable(spark, serving):
    """r4: EVERY Term/And/Or/Sum/DisMax/Phrase tree routes (nested
    phrases take the general flag-column plan); an unknown node type
    is rejected by ``validate_ast`` at both evaluators' entry, with
    the same ``ValueError``."""
    from mecab_ko_lucene_analyzer_spark.query.ast import validate_ast

    for ast in (
        And((Or((Term("검색"), Phrase(("데이터", "처리")))), Term("엔진"))),
        And((Or((Term("a"), Term("b"))), Term("c"))),
        Phrase(("a", "b")),
        And((Phrase(("a", "b")), Term("c"))),
        Sum((DisMax((Term("a"), Term("b")), 0.3), Term("c"))),
    ):
        validate_ast(ast)
    blocks, term_stats, n_docs, avgdl = serving
    for bad in (And((Term("a"), object())), And((Term("a"), Not(Or((object(),)))))):
        with pytest.raises(ValueError, match="unknown query node"):
            validate_ast(bad)
        with pytest.raises(ValueError, match="unknown query node"):
            execute_ast(bad, blocks, n_docs, avgdl, k=10)
        with pytest.raises(ValueError, match="unknown query node"):
            distributed_ast_topk(bad, blocks, {"a": 1}, n_docs, avgdl, k=10)


def test_or_nested_phrase_no_driver_block_fetch(spark, serving, monkeypatch):
    """The general flag-column plan must stay fully distributed too:
    an Or-nested phrase with a hot josa member never pulls blocks to
    the driver, and ranks identically to the driver evaluator."""
    blocks, term_stats, n_docs, avgdl = serving
    ast = And((Or((Phrase(("는", "데이터")), Term("검색"))), Term("데이터")))
    want = execute_ast(ast, blocks, n_docs, avgdl, k=10)

    import mecab_ko_lucene_analyzer_spark.query.wand as wand_mod

    def _forbidden(*a, **kw):
        raise AssertionError("nested-phrase query collected blocks driver-side")

    monkeypatch.setattr(wand_mod, "fetch_term_blocks", _forbidden)
    from mecab_ko_lucene_analyzer_spark.query.ast import ast_terms

    dfs = term_dfs(term_stats, sorted(ast_terms(ast)))
    got = distributed_ast_topk(ast, blocks, dfs, n_docs, avgdl, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, abs=1e-9)


def test_hot_phrase_routes_without_driver_block_fetch(
    spark, serving, monkeypatch
):
    """A phrase query containing the hot josa term must evaluate fully
    distributed: the driver never pulls term blocks (phrase positions
    decode executor-side), and the ranking equals the driver evaluator's."""
    blocks, term_stats, n_docs, avgdl = serving
    ast = And((Term("데이터"), Phrase(("는", "데이터"))))
    want = execute_ast(ast, blocks, n_docs, avgdl, k=10)

    import mecab_ko_lucene_analyzer_spark.query.wand as wand_mod

    def _forbidden(*a, **kw):
        raise AssertionError("hot phrase query collected blocks driver-side")

    monkeypatch.setattr(wand_mod, "fetch_term_blocks", _forbidden)
    from mecab_ko_lucene_analyzer_spark.query.ast import ast_terms

    dfs = term_dfs(term_stats, sorted(ast_terms(ast)))
    got = distributed_ast_topk(ast, blocks, dfs, n_docs, avgdl, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, abs=1e-9)


def test_phrase_match_docs_pruning_is_transparent(spark, serving):
    """The rarest-term broadcast semi-join (shuffle-volume cut) must
    not change the matched doc set, and must actually plan as a
    broadcast join when df stats are provided."""
    from mecab_ko_lucene_analyzer_spark.query.router import phrase_match_docs

    blocks, term_stats, n_docs, avgdl = serving
    terms = ("데이터", "처리")
    plain = {r["doc_id"] for r in phrase_match_docs(blocks, terms).collect()}
    dfs = term_dfs(term_stats, list(terms))
    pruned = phrase_match_docs(blocks, terms, dfs=dfs)
    assert {r["doc_id"] for r in pruned.collect()} == plain
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # a known-absent phrase term short-circuits to an empty relation
    empty = phrase_match_docs(
        blocks, ("데이터", "없는말"), dfs={"데이터": 5, "없는말": 0}
    )
    assert empty.count() == 0
    # term_dfs covers unindexed terms with df 0 (absence IS knowledge:
    # the lookup saw them), so term_dfs-built dicts — what batch.py's
    # hot loop passes — take the same instant short-circuit instead of
    # decoding the hot sibling's full postings
    typo_dfs = term_dfs(term_stats, ["데이터", "없는말"])
    assert typo_dfs["없는말"] == 0
    assert (
        phrase_match_docs(blocks, ("데이터", "없는말"), dfs=typo_dfs).count()
        == 0
    )


def test_match_count_blocks(spark, serving):
    """The distributed count of an And / Sum of terms equals the size
    of the decoded doc sets' intersection / union."""
    blocks, term_stats, n_docs, avgdl = serving
    terms = ["데이터", "처리"]
    import numpy as np

    from mecab_ko_lucene_analyzer_spark.index.codec import decode_varints

    # driver oracle: decode both docID sets and intersect/union
    sets = []
    for t in terms:
        rows = blocks.filter(blocks.term == t).collect()
        docs = np.concatenate(
            [
                np.cumsum(decode_varints(bytes(r["doc_deltas"])).astype(np.int64))
                for r in sorted(rows, key=lambda r: r["first_doc"])
            ]
        )
        sets.append(set(int(d) for d in docs))
    dfs = term_dfs(term_stats, terms)

    def count(ast):
        return count_ast_blocks(ast, blocks, dfs, n_docs, avgdl)

    assert count(And(tuple(Term(t) for t in terms))) == len(sets[0] & sets[1])
    assert count(bag_ast(terms)) == len(sets[0] | sets[1])
    assert count(And(())) == 0 and count(Sum(())) == 0


@pytest.fixture(scope="module")
def engines(spark, index_base):
    opt = AnalyzerOption(synonyms=SynonymDictionary({"검색": ["서치"]}))
    cold = SearchEngine(spark, BASE, opt)  # default threshold: driver route
    hot = SearchEngine(spark, BASE, opt, max_driver_df=0)  # everything hot
    return cold, hot


def test_hot_search_routes_distributed_same_results(engines, monkeypatch):
    """The routed engine must (a) never fetch term blocks to the driver
    and (b) return exactly the driver route's ranked hits."""
    cold, hot = engines
    for text, conj in [
        ("데이터 처리", False),
        ("데이터 처리", True),
        ("검색 엔진", True),  # synonym OR subtree
        ("데이터", False),  # single hot term
    ]:
        want = cold.search(text, k=10, conjunctive=conj)
        assert cold.last_route == "driver"

        def _forbidden(*a, **kw):
            raise AssertionError("hot query collected blocks to the driver")

        import mecab_ko_lucene_analyzer_spark.query.wand as wand_mod

        monkeypatch.setattr(wand_mod, "fetch_term_blocks", _forbidden)
        try:
            got = hot.search(text, k=10, conjunctive=conj)
        finally:
            monkeypatch.undo()
        assert hot.last_route == "distributed", text
        assert [h["doc_id"] for h in got] == [h["doc_id"] for h in want], text
        for g, w in zip(got, want):
            assert g["score"] == w["score"], text
            assert g["url"] == w["url"]


def test_hot_count_routes_distributed_same_results(engines, monkeypatch):
    cold, hot = engines
    for text, conj in [
        ("데이터 처리", True),
        ("데이터 처리", False),
        ("데이터", True),  # single hot term: df from term_stats, zero decode
    ]:
        want = cold.count(text, conjunctive=conj)

        def _forbidden(*a, **kw):
            raise AssertionError("hot count collected blocks to the driver")

        import mecab_ko_lucene_analyzer_spark.query.wand as wand_mod

        monkeypatch.setattr(wand_mod, "fetch_term_blocks", _forbidden)
        try:
            got = hot.count(text, conjunctive=conj)
        finally:
            monkeypatch.undo()
        assert hot.last_route == "distributed"
        assert got == want, text


def test_synonym_queries_count_what_search_serves(engines):
    """With synonyms (``{"검색": ["서치"]}``) ``search``, ``count`` and
    ``search_bulk`` serve one AST per flag: the conjunctive ``And`` of
    the per-token subtrees, or their disjunctive ``Sum``. For both
    flags the count is the number of docs ``search`` returns at
    k = n_docs, on the driver and on the distributed route, and the
    disjunctive hits hold the conjunctive ones."""
    cold, hot = engines
    for text in ("검색 데이터", "검색", "검색 엔진 문서"):
        hits = {}
        for conj in (True, False):
            got = cold.search(text, k=N_DOCS, conjunctive=conj)
            hits[conj] = {h["doc_id"] for h in got}
            assert cold.count(text, conjunctive=conj) == len(got), (text, conj)
            assert hot.count(text, conjunctive=conj) == len(got), (text, conj)
            assert hot.last_route == "distributed"
        assert hits[True] <= hits[False], text
    assert len(hits[False]) > len(hits[True])
    bulk = cold.search_bulk(["검색 데이터"], k=10, conjunctive=False).collect()
    want = cold.search("검색 데이터", k=10, conjunctive=False)
    assert sorted((r["rank"], r["doc_id"], r["score"]) for r in bulk) == [
        (i, h["doc_id"], h["score"]) for i, h in enumerate(want, start=1)
    ]


def test_hot_multiword_synonym_routes_distributed(engines, monkeypatch):
    """A multi-word synonym (Or-nested Phrase — the Q2 expansion shape)
    now routes too: the hot engine answers it fully distributed (no
    driver block fetch) with exactly the driver route's hits."""
    cold, hot = engines
    opt = AnalyzerOption(
        synonyms=SynonymDictionary({"검색": ["데이터 처리"]})
    )
    eng_cold = SearchEngine(cold.spark, BASE, opt)
    eng_hot = SearchEngine(cold.spark, BASE, opt, max_driver_df=0)
    want = eng_cold.search("검색", k=5, conjunctive=True)
    assert eng_cold.last_route == "driver"

    import mecab_ko_lucene_analyzer_spark.query.wand as wand_mod

    def _forbidden(*a, **kw):
        raise AssertionError("nested-phrase query collected blocks driver-side")

    monkeypatch.setattr(wand_mod, "fetch_term_blocks", _forbidden)
    try:
        hits = eng_hot.search("검색", k=5, conjunctive=True)
    finally:
        monkeypatch.undo()
    assert eng_hot.last_route == "distributed"
    assert [h["doc_id"] for h in hits] == [h["doc_id"] for h in want]
    for g, w in zip(hits, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-9)


def test_hot_expansion_queries_route_distributed(engines, monkeypatch):
    """Round-5: the multi-term REWRITE family (prefix / fuzzy /
    wildcard / regexp) expands against the vocabulary then serves the
    expansion set as a disjunctive bag (``bag_ast``) — when ANY
    expanded term is hot (a one-char prefix or ``는*`` hits the josa
    class), the hot engine must answer fully distributed (no driver
    block fetch) with exactly the cold engine's ranked hits and
    scores."""
    cold, hot = engines

    cases = [
        ("prefix", lambda e: e.search_prefix("는", k=10)),
        ("fuzzy", lambda e: e.search_fuzzy("는", k=10, max_edits=1)),
        ("wildcard", lambda e: e.search_wildcard("는*", k=10)),
        ("regexp", lambda e: e.search_regexp("는.*", k=10)),
    ]
    import mecab_ko_lucene_analyzer_spark.query.wand as wand_mod

    for name, run in cases:
        want = run(cold)
        assert want, f"{name}: expansion must match something"
        assert cold.last_route == "driver", name

        def _forbidden(*a, **kw):
            raise AssertionError(
                f"hot {name} expansion collected blocks to the driver"
            )

        monkeypatch.setattr(wand_mod, "fetch_term_blocks", _forbidden)
        try:
            got = run(hot)
        finally:
            monkeypatch.undo()
        assert hot.last_route == "distributed", name
        assert [h["doc_id"] for h in got] == [
            h["doc_id"] for h in want
        ], name
        for g, w in zip(got, want):
            assert g["score"] == w["score"], name


# ---------- hypothesis: random trees, distributed vs driver ---------------

from hypothesis import given, settings
from hypothesis import strategies as st

_VOCAB = ["검색", "엔진", "데이터", "처리", "시스템", "는", "없는말"]
_term_st = st.sampled_from(_VOCAB)
_leaf_st = st.one_of(
    st.builds(Term, _term_st),
    st.builds(
        lambda ws, slop: Phrase(tuple(ws), slop=slop),
        st.lists(_term_st, min_size=2, max_size=3),
        st.integers(0, 2),
    ),
)
_ast_st = st.recursive(
    _leaf_st,
    lambda ch: st.one_of(
        st.builds(lambda cs: And(tuple(cs)), st.lists(ch, min_size=1, max_size=3)),
        st.builds(lambda cs: Or(tuple(cs)), st.lists(ch, min_size=1, max_size=3)),
        # a Sum with every min_should_match from 1 to one beyond its
        # children (which matches nothing)
        st.lists(ch, min_size=1, max_size=3).flatmap(
            lambda cs: st.builds(
                lambda m: Sum(tuple(cs), m), st.integers(1, len(cs) + 1)
            )
        ),
    ),
    max_leaves=5,
)


@pytest.fixture(scope="module")
def spec_postings(spark):
    """The index's corpus as the scoring spec reads it: (``{term: {doc:
    [positions]}}``, ``{doc: doc_len}``)."""
    from ast_reference import postings_from_tokens

    pages = synthesize_webpages(spark, N_DOCS, partitions=5)
    rows = sorted(pages.select("url", "text").collect(), key=lambda r: r["url"])
    return postings_from_tokens({i: token_records(r["text"]) for i, r in enumerate(rows)})


@given(ast=_ast_st, cut=st.none() | st.integers(0, 40))
@settings(max_examples=8, deadline=None)
def test_random_ast_distributed_matches_driver(spark, serving, spec_postings, ast, cut):
    """Random trees — Sums with any ``min_should_match`` among them —
    through the distributed flag-column/general plan and the driver
    evaluator, each equal to the scoring spec (``ast_oracle``) bit for
    bit; extends the hand-picked ASTS to the open tree space (fewer
    examples: each draw plans + runs Spark jobs). With ``cut``, both
    serve the page after the spec's hit at that rank (a
    ``search_after`` cursor, ties included). Both counts are the
    spec's match-set size."""
    from ast_reference import ast_oracle

    from mecab_ko_lucene_analyzer_spark.query.ast import ast_terms

    blocks, term_stats, n_docs, avgdl = serving
    full = ast_oracle(ast, *spec_postings, n_docs, avgdl)
    after = full[cut][::-1] if cut is not None and cut < len(full) else None
    want = full[cut + 1 :][:10] if after else full[:10]
    dfs = term_dfs(term_stats, sorted(ast_terms(ast)))
    assert distributed_ast_topk(ast, blocks, dfs, n_docs, avgdl, 10, after) == want
    assert execute_ast(ast, blocks, n_docs, avgdl, k=10, after=after) == want
    assert count_ast_blocks(ast, blocks, dfs, n_docs, avgdl) == len(full)
    assert count_ast(ast, blocks, n_docs, avgdl) == len(full)
