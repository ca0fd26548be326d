"""Freshness prior, minimum-should-match, more-like-this, and
PMI-related-terms tests (functions/freshness.py, query/expand.py,
query/bm25.py::min_should_match)."""

from __future__ import annotations

import math

import pytest
import pyspark.sql.functions as F

from mecab_ko_lucene_analyzer_spark.functions.freshness import (
    combine_boosts,
    freshness_boost_table,
)
from mecab_ko_lucene_analyzer_spark.index.build import InvertedIndex
from mecab_ko_lucene_analyzer_spark.query.bm25 import (
    bm25_oracle,
    bm25_scored,
    bm25_topk,
    filtered_topk,
    keyset_page,
)
from mecab_ko_lucene_analyzer_spark.query.expand import (
    fuzzy_expand_terms,
    fuzzy_topk,
    mlt_seed_terms,
    mlt_topk,
    prefix_expand_terms,
    prefix_topk,
    related_terms,
    suggest_terms,
)


# --------------------------------------------------------------------------
# freshness prior
# --------------------------------------------------------------------------


def test_freshness_hand_model(spark):
    """half_life=10d, now defaults to the corpus max: ages 0/10/20 days
    give boosts 1, 1/2, 1/4 exactly."""
    doc_ts = spark.createDataFrame(
        [
            (1, "2025-01-21 00:00:00"),
            (2, "2025-01-11 00:00:00"),
            (3, "2025-01-01 00:00:00"),
            (4, None),
        ],
        "doc_id long, warc_ts string",
    )
    got = {
        r.doc_id: r.boost
        for r in freshness_boost_table(doc_ts, half_life_days=10.0).collect()
    }
    assert got[1] == pytest.approx(1.0, abs=1e-12)
    assert got[2] == pytest.approx(0.5, abs=1e-12)
    assert got[3] == pytest.approx(0.25, abs=1e-12)
    assert 4 not in got  # NULL ts: no row, blends at 0


def test_freshness_explicit_now(spark):
    doc_ts = spark.createDataFrame(
        [(1, "2025-01-01 00:00:00")], "doc_id long, warc_ts string"
    )
    got = freshness_boost_table(
        doc_ts, half_life_days=1.0, now="2025-01-03 00:00:00"
    ).collect()
    assert got[0].boost == pytest.approx(0.25, abs=1e-12)


def test_freshness_rejects_nonpositive_half_life(spark):
    doc_ts = spark.createDataFrame([(1, "2025-01-01")], "doc_id long, warc_ts string")
    with pytest.raises(ValueError):
        freshness_boost_table(doc_ts, half_life_days=0.0)


def test_combine_boosts_sums_and_keeps_singletons(spark):
    a = spark.createDataFrame([(1, 1.0), (2, 2.0)], "doc_id long, boost double")
    b = spark.createDataFrame([(2, 0.5), (3, 3.0)], "doc_id long, boost double")
    got = {r.doc_id: r.boost for r in combine_boosts(a, b).collect()}
    assert got == {1: 1.0, 2: 2.5, 3: 3.0}
    # single-table passthrough keeps rows as-is
    one = {r.doc_id: r.boost for r in combine_boosts(a).collect()}
    assert one == {1: 1.0, 2: 2.0}


@pytest.fixture(scope="module")
def fresh_engine(spark, tmp_path_factory):
    """--freshness-half-life build over the synthetic corpus (warc_ts
    = 2025-01-01 + doc-index seconds)."""
    from mecab_ko_lucene_analyzer_spark.analysis.dictionary import (
        AnalyzerOption,
    )
    from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
    from mecab_ko_lucene_analyzer_spark.index.build import build_and_write
    from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

    base = str(tmp_path_factory.mktemp("fresh_idx"))
    pages = synthesize_webpages(spark, 30, partitions=2)
    build_and_write(
        pages,
        base,
        with_blocks=True,
        lang_filter="ko",
        freshness_half_life=0.0001,  # ~8.6s half-life: spreads the 30s corpus
    )
    return SearchEngine(spark, base, AnalyzerOption()), base, pages


def test_freshness_build_writes_doc_boosts(fresh_engine, spark):
    _, base, pages = fresh_engine
    boosts = spark.read.parquet(f"{base}/doc_boosts")
    rows = {r.doc_id: r.boost for r in boosts.collect()}
    assert rows, "doc_boosts written"
    assert all(0.0 < b <= 1.0 for b in rows.values())
    # the newest indexed page gets the max boost
    doc_map = spark.read.parquet(f"{base}/doc_map")
    ts = {
        r.doc_id: r.warc_ts
        for r in doc_map.join(
            pages.select("url", "warc_ts"), "url"
        ).collect()
    }
    newest = max(ts, key=lambda d: (ts[d], d))
    assert rows[newest] == pytest.approx(max(rows.values()), rel=1e-9)
    # and boosts decay monotonically with age
    by_age = sorted(rows, key=lambda d: ts[d])
    vals = [rows[d] for d in by_age]
    assert vals == sorted(vals)


def test_search_boosted_w0_identity_on_freshness_build(fresh_engine):
    engine, _, _ = fresh_engine
    q = "검색 엔진"
    plain = [
        (h["doc_id"], h["score"])
        for h in engine.search(q, k=10, conjunctive=False)
    ]
    w0 = [
        (h["doc_id"], h["score"])
        for h in engine.search_boosted(q, k=10, w_boost=0.0)
    ]
    assert [d for d, _ in w0] == [d for d, _ in plain]
    for (_, a), (_, b) in zip(w0, plain):
        assert a == pytest.approx(b, rel=1e-9)


def test_combined_host_and_freshness_priors(spark, tmp_path_factory):
    """host_ranks + freshness in one build: doc_boosts is the SUM of
    the two priors (hand-checked on one doc)."""
    from mecab_ko_lucene_analyzer_spark.index.build import build_and_write
    from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

    base = str(tmp_path_factory.mktemp("combo_idx"))
    pages = synthesize_webpages(spark, 10, partitions=1)
    ranks = spark.createDataFrame(
        [(f"example-{i:08d}.kr", 0.1) for i in range(10)],
        "node string, rank double",
    )
    build_and_write(
        pages,
        base,
        with_blocks=True,
        lang_filter=None,
        host_ranks=ranks,
        freshness_half_life=10_000.0,  # ~forever: freshness ≈ 1 for all
    )
    rows = {
        r.doc_id: r.boost
        for r in spark.read.parquet(f"{base}/doc_boosts").collect()
    }
    n_ranked = 10
    centrality = math.log1p(0.1 * n_ranked)
    for b in rows.values():
        # centrality + freshness(≈1); the 30s spread at a 10000d
        # half-life leaves freshness within 1e-9 of 1
        assert b == pytest.approx(centrality + 1.0, rel=1e-6)


# --------------------------------------------------------------------------
# minimum-should-match
# --------------------------------------------------------------------------


def _hand_index(spark):
    """4 docs over terms a/b/c: doc1 {a}, doc2 {a,b}, doc3 {a,b,c},
    doc4 {c}. doc_len 4 each, avgdl 4."""
    postings = spark.createDataFrame(
        [
            ("a", 1, 2), ("a", 2, 1), ("a", 3, 1),
            ("b", 2, 2), ("b", 3, 1),
            ("c", 3, 2), ("c", 4, 4),
        ],
        "term string, doc_id long, tf long",
    )
    term_stats = spark.createDataFrame(
        [("a", 3), ("b", 2), ("c", 2)], "term string, df long"
    )
    doc_stats = spark.createDataFrame(
        [(i, 4) for i in (1, 2, 3, 4)], "doc_id long, doc_len long"
    )
    corpus = spark.createDataFrame([(4, 4.0)], "n_docs long, avgdl double")
    return InvertedIndex(postings, term_stats, doc_stats, corpus)


def test_msm_filters_by_distinct_match_count(spark):
    idx = _hand_index(spark)
    q = ["a", "b", "c"]
    all_docs = {r.doc_id for r in bm25_scored(idx, q).collect()}
    assert all_docs == {1, 2, 3, 4}
    msm2 = {r.doc_id for r in bm25_scored(idx, q, min_should_match=2).collect()}
    assert msm2 == {2, 3}
    msm3 = {r.doc_id for r in bm25_scored(idx, q, min_should_match=3).collect()}
    assert msm3 == {3}


def test_msm_leq_one_is_identity(spark):
    idx = _hand_index(spark)
    q = ["a", "c"]
    plain = sorted(
        (r.doc_id, r.score) for r in bm25_topk(idx, q, k=10).collect()
    )
    m1 = sorted(
        (r.doc_id, r.score)
        for r in bm25_topk(idx, q, k=10, min_should_match=1).collect()
    )
    assert plain == m1


def test_msm_scores_unchanged_for_surviving_docs(spark):
    """msm filters docs but never rescales scores."""
    idx = _hand_index(spark)
    q = ["a", "b", "c"]
    base = {r.doc_id: r.score for r in bm25_scored(idx, q).collect()}
    for r in bm25_scored(idx, q, min_should_match=2).collect():
        assert r.score == pytest.approx(base[r.doc_id], rel=1e-12)


# --------------------------------------------------------------------------
# more-like-this
# --------------------------------------------------------------------------


def test_mlt_seed_terms_tfidf_order(spark):
    """doc3 has a(tf1), b(tf1), c(tf2): idf(c)=idf(b) > idf(a), so
    tf*idf ranks c first, then b, then a; m cuts the tail."""
    idx = _hand_index(spark)
    assert mlt_seed_terms(idx, 3, m_terms=3) == ["c", "b", "a"]
    assert mlt_seed_terms(idx, 3, m_terms=2) == ["c", "b"]
    # doc1 has only 'a'
    assert mlt_seed_terms(idx, 1, m_terms=5) == ["a"]


def test_mlt_topk_excludes_seed_and_matches_oracle(spark):
    idx = _hand_index(spark)
    got = [(r.doc_id, r.score) for r in mlt_topk(idx, 3, m_terms=3, k=10).collect()]
    assert all(d != 3 for d, _ in got)
    token_lists = {1: ["a", "a", "x", "x"], 2: ["a", "b", "b", "x"],
                   3: ["a", "b", "c", "c"], 4: ["c", "c", "c", "c"]}
    expected = [
        (d, s) for d, s in bm25_oracle(token_lists, ["c", "b", "a"], k=10)
        if d != 3
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, a), (_, b) in zip(got, expected):
        assert a == pytest.approx(b, rel=1e-9)


# --------------------------------------------------------------------------
# related terms (PMI)
# --------------------------------------------------------------------------


def test_related_terms_hand_pmi(spark):
    """Seed 'a' (df 3): co(b)=2 of df(b)=2, co(c)=1 of df(c)=2, N=4.
    pmi(b) = ln(2*4/(3*2)) = ln(4/3); pmi(c) = ln(1*4/(3*2)) = ln(2/3).
    min_co=1 keeps both; min_co=2 keeps only b; seed never appears."""
    idx = _hand_index(spark)
    rows = related_terms(idx, "a", k=10, min_co=1).collect()
    got = {r.term: (r.n_co, r.pmi) for r in rows}
    assert set(got) == {"b", "c"}
    assert got["b"][0] == 2
    assert got["b"][1] == pytest.approx(math.log(4 / 3), rel=1e-12)
    assert got["c"][1] == pytest.approx(math.log(2 / 3), rel=1e-12)
    # ranked pmi desc
    assert [r.term for r in rows] == ["b", "c"]
    only_b = related_terms(idx, "a", k=10, min_co=2).collect()
    assert [r.term for r in only_b] == ["b"]


def test_related_terms_missing_seed_is_empty(spark):
    idx = _hand_index(spark)
    assert related_terms(idx, "zzz", k=5).collect() == []


def test_related_terms_ignores_tf(spark):
    """Doc-level events: doc4's tf(c)=4 counts once."""
    idx = _hand_index(spark)
    rows = {r.term: r.n_co for r in related_terms(idx, "c", k=10, min_co=1).collect()}
    # seed 'c' docs = {3, 4}; 'a' and 'b' each co-occur only in doc3
    assert rows == {"a": 1, "b": 1}


# --------------------------------------------------------------------------
# did-you-mean suggester
# --------------------------------------------------------------------------


def _vocab_index(spark):
    """Vocabulary-only index for the suggester (postings/doc/corpus
    unused by suggest_terms)."""
    term_stats = spark.createDataFrame(
        [
            ("spark", 90), ("spars", 40), ("shark", 60), ("sparkle", 5),
            ("spork", 3), ("stark", 60), ("sql", 100), ("sparky", 7),
        ],
        "term string, df long",
    )
    empty_p = spark.createDataFrame([], "term string, doc_id long, tf long")
    doc_stats = spark.createDataFrame([], "doc_id long, doc_len long")
    corpus = spark.createDataFrame([(0, 0.0)], "n_docs long, avgdl double")
    return InvertedIndex(empty_p, term_stats, doc_stats, corpus)


def test_suggest_rank_dist_then_df_then_term(spark):
    """'sparc': dist-1 {spark, spars}, dist-2 {shark, stark, sparky,
    spork}; within a distance band df desc breaks ties, then term asc
    (shark/stark both df 60)."""
    idx = _vocab_index(spark)
    rows = suggest_terms(idx, "sparc", k=10, max_edits=2).collect()
    assert [(r.term, r.dist) for r in rows] == [
        ("spark", 1), ("spars", 1),
        ("shark", 2), ("stark", 2), ("sparky", 2), ("spork", 2),
    ]
    # df carried through for consumers
    assert rows[0].df == 90


def test_suggest_excludes_self_and_respects_edits_k_mindf(spark):
    idx = _vocab_index(spark)
    # exact vocab term is excluded; radius 1 keeps only true neighbors
    rows = suggest_terms(idx, "spark", k=10, max_edits=1).collect()
    assert all(r.term != "spark" for r in rows)
    assert {r.term for r in rows} == {"spars", "shark", "stark", "sparky", "spork"}
    # k cuts after ranking; min_df drops rare corrections
    top1 = suggest_terms(idx, "sparc", k=1, max_edits=2).collect()
    assert [r.term for r in top1] == ["spark"]
    no_rare = {
        r.term
        for r in suggest_terms(idx, "sparc", k=10, max_edits=2, min_df=10).collect()
    }
    assert no_rare == {"spark", "spars", "shark", "stark"}


def test_suggest_no_candidates(spark):
    idx = _vocab_index(spark)
    assert suggest_terms(idx, "zzzzzzzzzz", k=5, max_edits=2).collect() == []


# --------------------------------------------------------------------------
# search_after keyset pagination
# --------------------------------------------------------------------------


def test_keyset_page_walk_is_gapless_and_tie_safe(spark):
    """Walking pages of 2 through an explicit tie run reproduces the
    full ranking with no gap and no duplicate — the doc_id tie-break
    makes the cursor unambiguous inside equal scores."""
    scored = spark.createDataFrame(
        [(1, 2.0), (2, 1.0), (3, 1.0), (4, 1.0), (5, 0.5)],
        "doc_id long, score double",
    )
    pages, cursor = [], None
    while True:
        rows = keyset_page(
            scored, *(cursor or (None, None)), k=2
        ).collect()
        if not rows:
            break
        pages.append([r.doc_id for r in rows])
        cursor = (rows[-1].score, rows[-1].doc_id)
    assert pages == [[1, 2], [3, 4], [5]]


def test_keyset_page_requires_full_cursor(spark):
    scored = spark.createDataFrame([(1, 1.0)], "doc_id long, score double")
    with pytest.raises(ValueError):
        keyset_page(scored, 1.0, None, k=2)


# --------------------------------------------------------------------------
# prefix / fuzzy multi-term query rewrite (Lucene PrefixQuery/FuzzyQuery)
# --------------------------------------------------------------------------


def test_prefix_expand_df_desc_and_cap(spark):
    """'spar' expansion: {spark 90, spars 40, sparky 7, sparkle 5} in
    df-desc order; max_expansions cuts after ranking (the Lucene
    top-terms rewrite budget keeps the most frequent matches)."""
    idx = _vocab_index(spark)
    assert prefix_expand_terms(idx.term_stats, "spar", 50) == [
        "spark", "spars", "sparky", "sparkle"
    ]
    assert prefix_expand_terms(idx.term_stats, "spar", 2) == ["spark", "spars"]
    assert prefix_expand_terms(idx.term_stats, "zz", 50) == []


def test_fuzzy_expand_includes_exact_and_ranks_by_dist(spark):
    """Unlike the suggester, the fuzzy MATCH keeps the exact term at
    distance 0; band order is dist asc, then df desc, then term asc."""
    idx = _vocab_index(spark)
    rows = fuzzy_expand_terms(idx.term_stats, "spark", max_edits=1).collect()
    assert [(r.term, r.dist) for r in rows] == [
        ("spark", 0),
        ("shark", 1), ("stark", 1), ("spars", 1), ("sparky", 1),
        ("spork", 1),
    ]
    # prefix_length pins the leading chars exactly (vocab range probe)
    pinned = fuzzy_expand_terms(
        idx.term_stats, "spark", max_edits=1, prefix_length=2
    ).collect()
    assert [r.term for r in pinned] == ["spark", "spars", "sparky", "spork"]
    # expansion budget cuts after ranking
    capped = fuzzy_expand_terms(
        idx.term_stats, "spark", max_edits=1, max_expansions=3
    ).collect()
    assert [r.term for r in capped] == ["spark", "shark", "stark"]


def test_prefix_and_fuzzy_topk_score_disjunctive_sum(spark):
    """The rewrite scores as a disjunctive BM25 OR over the expansion
    set: identical to bm25_scored on the hand-listed expansions, and
    to the brute-force oracle."""
    idx = _hand_index(spark)
    token_lists = {1: ["a", "a", "x", "x"], 2: ["a", "b", "b", "x"],
                   3: ["a", "b", "c", "c"], 4: ["c", "c", "c", "c"]}
    # vocabulary {a,b,c}: prefix "" expands to all three (df desc caps
    # untouched); fuzzy "a" within 1 edit of single-char terms = all
    got_p = [
        (r.doc_id, r.score) for r in prefix_topk(idx, "", k=10).collect()
    ]
    want = bm25_oracle(token_lists, ["a", "b", "c"], k=10)
    assert [d for d, _ in got_p] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got_p, want):
        assert s1 == pytest.approx(s2, rel=1e-12)
    got_f = [
        (r.doc_id, r.score)
        for r in fuzzy_topk(idx, "a", k=10, max_edits=1).collect()
    ]
    # same expansion set -> same ranking (scores approx: the two jobs
    # may sum partials in different orders, ~1e-16 jitter)
    assert [d for d, _ in got_f] == [d for d, _ in got_p]
    for (_, s1), (_, s2) in zip(got_f, got_p):
        assert s1 == pytest.approx(s2, rel=1e-12)
    # no expansion -> empty result, not an error
    assert prefix_topk(idx, "zz", k=5).collect() == []
    assert fuzzy_topk(idx, "zzzzzz", k=5, max_edits=1).collect() == []


# --------------------------------------------------------------------------
# regexp retrieval (Lucene RegexpQuery)
# --------------------------------------------------------------------------


def test_regexp_expand_full_string_anchored(spark):
    """Lucene regexps are implicitly anchored: 'spark?' matches spar-
    less terms never — only full-string matches qualify ('spark' and
    the hypothetical 'spar'), NOT 'sparkle'/'sparky' (substring hits)."""
    from mecab_ko_lucene_analyzer_spark.query.expand import (
        regexp_expand_terms,
    )

    idx = _vocab_index(spark)
    assert regexp_expand_terms(idx.term_stats, "spark?") == ["spark"]
    # alternation + class, ranked df desc then term asc
    assert regexp_expand_terms(idx.term_stats, "s(hark|tark)|sql") == [
        "sql", "shark", "stark"
    ]
    # max_expansions cuts AFTER ranking
    assert regexp_expand_terms(idx.term_stats, "s.*", 2) == ["sql", "spark"]
    assert regexp_expand_terms(idx.term_stats, "zz+") == []


def test_regexp_topk_scores_expansion_disjunctively(spark):
    """regexp_topk == bm25_scored over the expansion set, top-k cut."""
    from mecab_ko_lucene_analyzer_spark.query.expand import regexp_topk

    idx = _hand_index(spark)
    got = [(r.doc_id, r.score) for r in regexp_topk(idx, "[ab]", k=10).collect()]
    want = (
        bm25_scored(idx, ["a", "b"])
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .collect()
    )
    assert got == [(r.doc_id, r.score) for r in want]
    assert regexp_topk(idx, "zz+", k=5).collect() == []


def test_filtered_topk_keeps_unfiltered_scores(spark):
    """ES filter context: filters match but never score — surviving
    docs keep the identical scores the unfiltered query gives them,
    and the filter applies BEFORE the top-k cut (k rows still fill
    from deeper ranks)."""
    idx = _hand_index(spark)
    flt = spark.createDataFrame([(2,), (3,), (99,)], "doc_id long")
    got = [(r.doc_id, r.score) for r in filtered_topk(idx, ["a", "b"], flt, k=10).collect()]
    unfiltered = {
        r.doc_id: r.score for r in bm25_scored(idx, ["a", "b"]).collect()
    }
    assert [d for d, _ in got] == [2, 3]  # rank order preserved
    for d, s in got:
        assert s == unfiltered[d]
    # pre-cut law: k=1 returns the best SURVIVING doc, not an empty cut
    top1 = filtered_topk(idx, ["a", "b"], flt, k=1).collect()
    assert [(r.doc_id) for r in top1] == [2]
    # empty filter side -> no hits; empty query -> empty relation
    none = spark.createDataFrame([], "doc_id long")
    assert filtered_topk(idx, ["a", "b"], none, k=5).collect() == []
    assert filtered_topk(idx, [], flt, k=5).collect() == []


# --------------------------------------------------------------------------
# proximity rescore (ES rescore window)
# --------------------------------------------------------------------------


def _rescore_tokens(spark):
    # doc1: a ... b far apart (gap 3); doc2: a b adjacent (gap 1);
    # doc3: only a (no pair); doc4: b only
    return spark.createDataFrame(
        [
            (1, 0, "a"), (1, 1, "x"), (1, 2, "x"), (1, 3, "b"),
            (2, 0, "a"), (2, 1, "b"), (2, 2, "x"),
            (3, 0, "a"), (3, 1, "x"),
            (4, 0, "b"),
        ],
        "doc_id long, pos int, term string",
    )


def test_min_pair_distance_hand_model(spark):
    from mecab_ko_lucene_analyzer_spark.query.rescore import (
        min_pair_distance,
    )

    got = {
        r["doc_id"]: r["min_dist"]
        for r in min_pair_distance(
            _rescore_tokens(spark), ["a", "b"]
        ).collect()
    }
    # docs with <2 distinct query terms emit no row
    assert got == {1: 3, 2: 1}


def test_proximity_rescore_reranks_within_window(spark):
    """doc1 leads on base score but doc2's adjacent pair out-boosts
    it: 0.5+1/2 > 0.6+1/4. Docs without a pair keep their base score;
    the window bounds which docs are rescored at all."""
    from mecab_ko_lucene_analyzer_spark.query.rescore import (
        proximity_rescore,
    )

    scored = spark.createDataFrame(
        [(1, 0.6), (2, 0.5), (3, 0.4), (4, 0.3)], "doc_id long, score double"
    )
    toks = _rescore_tokens(spark)
    rows = proximity_rescore(scored, toks, ["a", "b"], k=4, window=4).collect()
    got = [(r["doc_id"], r["score"]) for r in rows]
    assert got[0] == (2, pytest.approx(1.0))
    assert got[1] == (1, pytest.approx(0.85))
    assert got[2:] == [(3, 0.4), (4, 0.3)]
    # window=2: docs 3/4 fall outside and are not returned at all
    win2 = proximity_rescore(scored, toks, ["a", "b"], k=4, window=2).collect()
    assert [r["doc_id"] for r in win2] == [2, 1]
    # empty scored relation
    empty = spark.createDataFrame([], "doc_id long, score double")
    assert proximity_rescore(empty, toks, ["a", "b"], k=3).collect() == []
