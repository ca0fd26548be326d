"""Q1–Q6 tests: AST construction (synonym OR, extra-term subtree,
phrase), JSON rendering, and executor correctness (conjunctive AND +
synonym OR + phrase) against a brute-force evaluator."""

import shutil

import pytest

from mecab_ko_lucene_analyzer_spark.analysis.dictionary import (
    AnalyzerOption,
    SetDictionary,
    SynonymDictionary,
    analyze_index_tokens,
    analyze_query,
)
from mecab_ko_lucene_analyzer_spark.analysis.tokenizer import token_records
from mecab_ko_lucene_analyzer_spark.index import build_and_write
from mecab_ko_lucene_analyzer_spark.query.ast import (
    And,
    DisMax,
    Not,
    Or,
    Phrase,
    Sum,
    Term,
    build_query_ast,
    from_json,
    to_json,
    validate_ast,
)
from mecab_ko_lucene_analyzer_spark.query.bm25 import lucene_idf
from mecab_ko_lucene_analyzer_spark.query.executor import execute_ast
from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

BASE = "/tmp/test_index_ast"
N_DOCS = 100


# ---------- AST construction --------------------------------------------


def test_build_query_ast_synonyms_and_extras():
    tokens = [
        {"term": "삼성전자", "synonyms": ["samsung", "삼성 전자"]},
        {"term": "노트북", "synonyms": [], "extra_terms": ["노트", "북"]},
        {"term": "가방"},
    ]
    ast = build_query_ast(tokens)
    assert ast == And(
        (
            Or((Term("삼성전자"), Term("samsung"), Phrase(("삼성", "전자")))),
            Or((Term("노트북"), And((Term("노트"), Term("북"))))),
            Term("가방"),
        )
    )
    j = to_json(ast)
    assert '"phrase": ["삼성", "전자"]' in j and '"and"' in j


def test_synonym_dictionary_two_way_vs_one_way():
    two = SynonymDictionary.from_groups([["a", "b", "c"]], two_way=True)
    assert two.get("b") == ["a", "c"]
    one = SynonymDictionary.from_groups([["a", "b", "c"]], two_way=False)
    assert one.get("a") == ["b", "c"]
    assert one.get("b") == []


def test_analyze_query_and_index_modes():
    opt = AnalyzerOption(
        synonyms=SynonymDictionary.from_groups([["검색", "서치"]]),
        stopwords=SetDictionary.from_lines(["의"]),
    )
    q = analyze_query("검색 엔진의", opt)
    terms = [t["term"] for t in q]
    assert "검색" in terms and "의" not in terms
    syn = next(t for t in q if t["term"] == "검색")["synonyms"]
    assert syn == ["서치"]
    idx = analyze_index_tokens("검색 엔진의", opt)
    idx_terms = [t["term"] for t in idx]
    assert "서치" in idx_terms  # emitted at same position
    srch = [t for t in idx if t["term"] in ("검색", "서치")]
    assert srch[0]["position"] == srch[1]["position"]


# ---------- executor vs brute force --------------------------------------


@pytest.fixture(scope="module")
def env(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    pages = synthesize_webpages(spark, N_DOCS, partitions=4)
    build_and_write(pages, BASE, lang_filter=None, with_blocks=True, hot_min_df=25)
    blocks = spark.read.parquet(f"{BASE}/blocks").cache()
    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    rows = sorted(pages.select("url", "text").collect(), key=lambda r: r["url"])
    docs = {i: token_records(r["text"]) for i, r in enumerate(rows)}
    return blocks, term_stats, corpus, docs


def _brute_force(docs, ast, n_docs, avgdl, k=10, k1=1.2, b=0.75):
    from mecab_ko_lucene_analyzer_spark.query.ast import And, DisMax, Or, Phrase, Term

    def df_of(term):
        return sum(1 for toks in docs.values() if any(t["term"] == term for t in toks))

    def term_score(term, toks, dl):
        tf = sum(1 for t in toks if t["term"] == term)
        if tf == 0:
            return None
        idf = lucene_idf(n_docs, df_of(term))
        return idf * tf / (tf + k1 * (1 - b + b * dl / avgdl))

    def eval_node(node, toks, dl):
        """returns score or None if no match"""
        from mecab_ko_lucene_analyzer_spark.query.ast import Not as _Not

        if isinstance(node, _Not):
            # must_not: matches (0.0 contribution) iff the child does not
            return None if eval_node(node.child, toks, dl) is not None else 0.0
        if isinstance(node, Term):
            return term_score(node.term, toks, dl)
        if isinstance(node, Phrase):
            # exhaustive EXISTS-semantics oracle (all candidate chains
            # via itertools.product — independent of the engine's DP,
            # deliberately not the greedy first-match walk, which has
            # false negatives for slop >= 1)
            import itertools

            pos = {}
            for t in toks:
                pos.setdefault(t["term"], []).append(t["position"])
            cands = [pos.get(w, []) for w in node.terms]
            if any(not c for c in cands):
                return None
            for chain in itertools.product(*cands):
                if all(
                    chain[i] < chain[i + 1] <= chain[i] + 1 + node.slop
                    for i in range(len(chain) - 1)
                ):
                    return 0.0
            return None
        if isinstance(node, And):
            total = 0.0
            for c in node.children:
                s = eval_node(c, toks, dl)
                if s is None:
                    return None
                total += s
            return total
        if isinstance(node, (Or, DisMax)):
            scores = [eval_node(c, toks, dl) for c in node.children]
            scores = [s for s in scores if s is not None]
            if not scores:
                return None
            best = max(scores)
            if isinstance(node, Or):
                return best
            total = 0.0
            for s in scores:
                total += s
            return best + node.tie_breaker * (total - best)
        raise TypeError(node)

    results = []
    for d, toks in docs.items():
        dl = len(toks)
        s = eval_node(ast, toks, dl)
        if s is not None:
            results.append((d, s))
    results.sort(key=lambda t: (-t[1], t[0]))
    return results[:k]


CASES = [
    And((Term("검색"), Term("엔진"))),
    And((Or((Term("검색엔진"), Term("검색"))), Term("문서"))),
    And((Phrase(("검색", "엔진")),)),
    And((Or((Term("삼성전자"), Phrase(("삼성", "전자")))),)),
    And((Term("데이터"), Or((Term("처리"), Term("시스템"))))),
    And((Term("없는단어"),)),
]


@pytest.mark.parametrize("ast", CASES, ids=[to_json(c)[:40] for c in CASES])
def test_execute_ast_matches_brute_force(env, ast):
    blocks, term_stats, corpus, docs = env
    expected = _brute_force(docs, ast, corpus["n_docs"], corpus["avgdl"], k=10)
    got = execute_ast(ast, blocks, corpus["n_docs"], corpus["avgdl"], k=10)
    assert got == expected, to_json(ast)


NOT_CASES = [
    And((Term("검색"), Not(Term("엔진")))),
    And((Term("데이터"), Not(Term("는")))),  # excluding the hot josa
    And((Term("데이터"), Not(Or((Term("처리"), Term("시스템")))))),
    And((Or((Term("검색"), Term("문서"))), Not(Term("데이터")))),
    And((Term("데이터"), Not(Phrase(("검색", "엔진"))))),
    And((Phrase(("데이터", "처리")), Not(Term("검색")))),
    And((Term("검색"), Not(Term("없는단어")))),  # excluding an absent term
    And((Term("검색"), Term("문서"), Not(Term("엔진")))),
]


@pytest.mark.parametrize("ast", NOT_CASES, ids=[to_json(c)[:48] for c in NOT_CASES])
def test_execute_ast_not_matches_brute_force(env, ast):
    """must_not ground truth: the cursor tree's exclusion semantics
    (score = positive side only, excluded docs absent) against the
    exhaustive pure-Python evaluator."""
    blocks, term_stats, corpus, docs = env
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    expected = _brute_force(docs, ast, n_docs, avgdl, k=10)
    got = execute_ast(ast, blocks, n_docs, avgdl, k=10)
    assert got == expected, to_json(ast)


def test_not_excludes_and_scores_identically(env):
    """Exclusion is a filter, never a scoring signal: hits of
    And(a, Not(b)) are exactly the hits of And(a) minus docs matching
    b, with bit-identical scores for the survivors."""
    blocks, term_stats, corpus, docs = env
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    plain = execute_ast(
        And((Term("검색"),)), blocks, n_docs, avgdl, k=len(docs)
    )
    negated = execute_ast(
        And((Term("검색"), Not(Term("엔진")))),
        blocks, n_docs, avgdl, k=len(docs),
    )
    has_engine = {
        d for d, toks in docs.items() if any(t["term"] == "엔진" for t in toks)
    }
    want = [(d, s) for d, s in plain if d not in has_engine]
    assert negated == want
    assert has_engine & {d for d, _ in negated} == set()


def test_validate_ast_rejects_malformed_not():
    validate_ast(And((Term("a"), Not(Term("b")))))  # valid shape
    with pytest.raises(ValueError):
        validate_ast(Not(Term("a")))  # bare Not
    with pytest.raises(ValueError):
        validate_ast(Or((Not(Term("a")), Term("b"))))  # Not under Or
    with pytest.raises(ValueError):
        validate_ast(And((Not(Term("a")),)))  # no positive sibling
    with pytest.raises(ValueError):
        validate_ast(And((Term("a"), Not(And((Term("b"), Not(Term("c"))))))))
    # a Not smuggled under a DisMax inside the negated subtree must be
    # rejected here too — otherwise the driver cursor tree crashes at
    # build time while the distributed router silently evaluates it
    from mecab_ko_lucene_analyzer_spark.query.ast import DisMax

    with pytest.raises(ValueError):
        validate_ast(
            And((Term("a"), Not(DisMax((Not(Term("b")),)))))
        )


def test_not_json_roundtrip():
    ast = And((Term("검색"), Not(Or((Term("엔진"), Phrase(("데이터", "처리")))))))
    assert from_json(to_json(ast)) == ast
    assert '"not"' in to_json(ast)


def test_build_query_ast_exclude_tokens():
    """exclude tokens become Not clauses; an excluded token's synonym
    surface forms are excluded too (the Or-group is negated whole);
    extra_terms are NOT negated."""
    ast = build_query_ast(
        [{"term": "노트북"}],
        exclude_tokens=[
            {"term": "중고", "synonyms": ["리퍼"], "extra_terms": ["refurb"]}
        ],
    )
    assert ast == And(
        (Term("노트북"), Not(Or((Term("중고"), Term("리퍼")))))
    )
    validate_ast(ast)


def test_topk_and_requires_all_terms(env):
    blocks, term_stats, corpus, docs = env
    ast = And((Term("검색"), Term("엔진"), Term("문서")))
    got = execute_ast(ast, blocks, corpus["n_docs"], corpus["avgdl"], k=10)
    assert got
    for d, _ in got:
        terms = {t["term"] for t in docs[d]}
        assert {"검색", "엔진", "문서"} <= terms


# ---------- hypothesis: random trees vs ground truth ----------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from mecab_ko_lucene_analyzer_spark.query.executor import count_ast

# deliberately mixed dfs: corpus-frequent nouns, the hot josa 는/이
# (the 10^12-doc skew shape), one absent term — so random trees hit
# empty cursors, all-zero phrase scores, and single-child groups
_VOCAB = ["검색", "엔진", "문서", "데이터", "처리", "시스템",
          "삼성전자", "는", "이", "없는단어"]
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
        st.builds(
            lambda cs, tb: DisMax(tuple(cs), tb),
            st.lists(ch, min_size=1, max_size=3),
            st.sampled_from([0.0, 0.3, 1.0]),
        ),
    ),
    max_leaves=6,
)
# valid must_not placement by construction: an And of 1-2 positive
# subtrees (which never contain Not) plus 1-2 Not-wrapped Not-free
# subtrees — exercises negated phrases, negated Or-groups, absent
# negated terms, and hot-josa exclusions
_not_ast_st = st.builds(
    lambda pos, negs: And(tuple(pos) + tuple(Not(n) for n in negs)),
    st.lists(_ast_st, min_size=1, max_size=2),
    st.lists(_ast_st, min_size=1, max_size=2),
)


@given(ast=_ast_st)
@settings(max_examples=25, deadline=None)
def test_random_ast_matches_brute_force(env, ast):
    """Random Term/And/Or/DisMax/Phrase trees (repeated terms, slop 0-2,
    single-child groups, absent terms, hot josa) against the exhaustive
    pure-Python evaluator: the 16 hand-picked shapes in
    test_query_router.py gate implementation-vs-implementation; this
    gates implementation-vs-ground-truth over the open tree space."""
    blocks, term_stats, corpus, docs = env
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    expected = _brute_force(docs, ast, n_docs, avgdl, k=10)
    got = execute_ast(ast, blocks, n_docs, avgdl, k=10)
    assert got == expected, to_json(ast)
    # the count path (Q8 trackTotalHits) must agree with the ground
    # truth's full match set, not just the top-k
    all_matches = _brute_force(docs, ast, n_docs, avgdl, k=len(docs))
    assert count_ast(ast, blocks, n_docs, avgdl) == len(all_matches), to_json(ast)


@given(ast=_not_ast_st)
@settings(max_examples=20, deadline=None)
def test_random_not_ast_matches_brute_force(env, ast):
    """Random valid must_not trees vs ground truth: top-k rank/score
    identity plus full-match-set count agreement (an exclusion bug
    that only shifts the tail would show up in the count)."""
    blocks, term_stats, corpus, docs = env
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    expected = _brute_force(docs, ast, n_docs, avgdl, k=10)
    got = execute_ast(ast, blocks, n_docs, avgdl, k=10)
    assert got == expected, to_json(ast)
    all_matches = _brute_force(docs, ast, n_docs, avgdl, k=len(docs))
    assert count_ast(ast, blocks, n_docs, avgdl) == len(all_matches), to_json(ast)


# ---------------------------------------------------------------- DisMax


def test_dismax_json_roundtrip():
    from mecab_ko_lucene_analyzer_spark.query.ast import (
        And,
        DisMax,
        Term,
        from_json,
        to_json,
    )

    node = And((Term("a"), DisMax((Term("b"), Term("c")), 0.3)))
    assert from_json(to_json(node)) == node
    # tie_breaker defaults to 0.0 when omitted in the JSON
    assert from_json('{"dis_max": [{"term": "x"}]}') == DisMax((Term("x"),))


def test_sum_min_should_match_json_and_validation():
    """``minimum_should_match`` renders only above 1 (a plain Sum keeps
    its rendering), parses back, defaults to 1, and must be at least 1
    — also under a negated subtree."""
    sum_m = Sum((Term("a"), Term("b"), Term("c")), 2)
    assert to_json(sum_m) == (
        '{"sum": [{"term": "a"}, {"term": "b"}, {"term": "c"}], "minimum_should_match": 2}'
    )
    assert to_json(Sum((Term("a"),))) == '{"sum": [{"term": "a"}]}'
    node = And((Term("x"), sum_m, Not(Sum((Term("d"), Term("e")), 2))))
    assert from_json(to_json(node)) == node
    assert from_json('{"sum": [{"term": "x"}]}') == Sum((Term("x"),), 1)
    validate_ast(node)
    for bad in (Sum((Term("a"),), 0), And((Term("x"), Not(Sum((Term("a"),), 0))))):
        with pytest.raises(ValueError, match="min_should_match"):
            validate_ast(bad)


def test_dismax_validate_rejects_not_child():
    import pytest as _pytest

    from mecab_ko_lucene_analyzer_spark.query.ast import (
        DisMax,
        Not,
        Term,
        validate_ast,
    )

    with _pytest.raises(ValueError):
        validate_ast(DisMax((Term("a"), Not(Term("b")))))


def test_dismax_tb0_equals_or_and_blend_law(spark):
    """Driver-cursor semantics: tie_breaker=0 scores exactly like the
    engine's Or (best child); 0<tb<1 blends max + tb*(sum-max)."""
    import pyspark.sql.functions as F

    from mecab_ko_lucene_analyzer_spark.index.blocks import (
        build_blocks_from_partials,
    )
    from mecab_ko_lucene_analyzer_spark.index.build import (
        _stats_from_partials,
        partials_from_tokens,
    )
    from mecab_ko_lucene_analyzer_spark.query.ast import DisMax, Or, Term
    from mecab_ko_lucene_analyzer_spark.query.executor import execute_ast

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c c"), (2, "b c"), (3, "c c c")],
        "doc_id long, text string",
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("position", "term"),
    )
    partials = partials_from_tokens(toks)
    term_stats, doc_stats = _stats_from_partials(partials)
    row = doc_stats.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
    ).first()
    blocks = build_blocks_from_partials(
        partials, term_stats, row["n"], float(row["avgdl"]), hot_min_df=10**9
    )
    args = (blocks, row["n"], float(row["avgdl"]))

    or_hits = dict(execute_ast(Or((Term("a"), Term("c"))), *args, k=10))
    dm0 = dict(execute_ast(DisMax((Term("a"), Term("c")), 0.0), *args, k=10))
    assert dm0 == or_hits

    tb = 0.4
    dm = dict(execute_ast(DisMax((Term("a"), Term("c")), tb), *args, k=10))
    a_only = dict(execute_ast(Term("a"), *args, k=10))
    c_only = dict(execute_ast(Term("c"), *args, k=10))
    for d, s in dm.items():
        sa, sc = a_only.get(d, 0.0), c_only.get(d, 0.0)
        best, tot = max(sa, sc), sa + sc
        assert s == pytest.approx(best + tb * (tot - best), abs=1e-12)
