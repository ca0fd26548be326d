"""Session-14 query surface: RRF hybrid fusion, score explanation,
ES field collapsing, the C4 word blocklist, and ``_termvectors``."""

from __future__ import annotations

import math
import shutil

import pytest
import pyspark.sql.functions as F

from mecab_ko_lucene_analyzer_spark.index.build import B, InvertedIndex, K1
from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored, lucene_idf
from mecab_ko_lucene_analyzer_spark.query.explain import (
    explain_terms,
    explanation_tree,
)
from mecab_ko_lucene_analyzer_spark.query.fusion import (
    hybrid_bm25_cosine_topk,
    ranked,
    rrf_fuse,
)
from mecab_ko_lucene_analyzer_spark.query.aggs import collapse_topk
from mecab_ko_lucene_analyzer_spark.functions.curation import (
    blocklist_filter,
    blocklist_stats,
)
from mecab_ko_lucene_analyzer_spark.functions.text import term_vectors


def _hand_index(spark):
    """doc1 {a a}, doc2 {a b}, doc3 {a b c}, doc4 {c c c c}, doc5 {b}
    — same shape as test_query_aggs' fixture."""
    postings = spark.createDataFrame(
        [
            ("a", 1, 2), ("a", 2, 1), ("a", 3, 1),
            ("b", 2, 2), ("b", 3, 1), ("b", 5, 1),
            ("c", 3, 2), ("c", 4, 4),
        ],
        "term string, doc_id long, tf long",
    )
    term_stats = spark.createDataFrame(
        [("a", 3), ("b", 3), ("c", 2)], "term string, df long"
    )
    doc_stats = spark.createDataFrame(
        [(i, 4) for i in (1, 2, 3, 4, 5)], "doc_id long, doc_len long"
    )
    corpus = spark.createDataFrame([(5, 4.0)], "n_docs long, avgdl double")
    return InvertedIndex(postings, term_stats, doc_stats, corpus)


# --------------------------------------------------------------------------
# rrf_fuse / ranked
# --------------------------------------------------------------------------


def test_ranked_order_law_and_cut(spark):
    scored = spark.createDataFrame(
        [(1, 2.0), (2, 3.0), (3, 3.0), (4, 1.0)], "doc_id long, score double"
    )
    got = {r["doc_id"]: r["rank"] for r in ranked(scored, 3).collect()}
    # score desc, doc_id asc on the 3.0 tie; doc 4 cut
    assert got == {2: 1, 3: 2, 1: 3}


def test_rrf_fuse_math_and_partial_membership(spark):
    """Doc present in both rankings sums both contributions; docs in
    only one ranking get only that side; ties break doc_id asc."""
    lex = spark.createDataFrame([(10, 1), (11, 2)], "doc_id long, rank int")
    sem = spark.createDataFrame([(11, 1), (12, 2)], "doc_id long, rank int")
    rows = rrf_fuse([lex, sem], k=10, round_digits=None).collect()
    got = {r["doc_id"]: r["rrf_score"] for r in rows}
    assert got[11] == pytest.approx(1 / 62 + 1 / 61, abs=0)
    assert got[10] == pytest.approx(1 / 61, abs=0)
    assert got[12] == pytest.approx(1 / 62, abs=0)
    # ordering: 11 first, then 10 vs 12 by score, and k cuts
    assert [r["doc_id"] for r in rows] == [11, 10, 12]
    assert [r["doc_id"] for r in rrf_fuse([lex, sem], k=1).collect()] == [11]
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_hybrid_bm25_cosine_topk_matches_hand_fusion(spark):
    """End-to-end hybrid == hand-fused (ranked bm25, ranked cosine)."""
    idx = _hand_index(spark)
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),       # the query vector
            (1, [1.0, 0.1]),
            (2, [0.0, 1.0]),
            (3, [1.0, 1.0]),
            (4, [-1.0, 0.0]),
            (5, [0.9, 0.05]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = hybrid_bm25_cosine_topk(
        idx, ["a", "b"], emb, 0, k=5, n_candidates=3, round_digits=None
    ).collect()

    from mecab_ko_lucene_analyzer_spark.functions.similarity import cosine_topk

    lex = ranked(bm25_scored(idx, ["a", "b"]), 3)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    sem = ranked(
        cosine_topk(emb, q, k=3, round_digits=None).select(
            F.col("vec_id").alias("doc_id"), "cosine"
        ),
        3,
        score_col="cosine",
    )
    want = rrf_fuse([lex, sem], k=5, round_digits=None).collect()
    assert [(r["doc_id"], r["rrf_score"]) for r in got] == [
        (r["doc_id"], r["rrf_score"]) for r in want
    ]
    assert len(got) >= 3  # both modalities contribute docs


# --------------------------------------------------------------------------
# explain_terms / explanation_tree
# --------------------------------------------------------------------------


def test_explain_terms_partials_sum_to_bm25_scored(spark):
    idx = _hand_index(spark)
    exp = explain_terms(idx, ["a", "b", "c"])
    summed = {
        r["doc_id"]: r["s"]
        for r in exp.groupBy("doc_id").agg(F.sum("partial").alias("s")).collect()
    }
    scored = {
        r["doc_id"]: r["score"]
        for r in bm25_scored(idx, ["a", "b", "c"]).collect()
    }
    assert set(summed) == set(scored)
    for d in summed:
        assert summed[d] == pytest.approx(scored[d], rel=1e-12), d


def test_explain_terms_components(spark):
    idx = _hand_index(spark)
    rows = {
        (r["doc_id"], r["term"]): r
        for r in explain_terms(idx, ["c"]).collect()
    }
    r = rows[(4, "c")]
    idf = lucene_idf(5, 2)
    assert r["df"] == 2 and r["tf"] == 4
    assert r["idf"] == pytest.approx(idf, rel=1e-12)
    norm = 4.0 / (4.0 + K1 * (1 - B + B * 4.0 / 4.0))
    assert r["partial"] == pytest.approx(idf * norm, rel=1e-12)
    # empty query -> empty relation with the contract schema
    empty = explain_terms(idx, [])
    assert empty.count() == 0 and "partial" in empty.columns


def test_explanation_tree_shape():
    comp = {
        "term": "a", "tf": 2, "doc_len": 4, "df": 3,
        "idf": lucene_idf(5, 3), "avgdl": 4.0, "n_docs": 5,
    }
    tree = explanation_tree([comp], doc_id=1)
    assert tree["matched"] is True
    [detail] = tree["details"]
    assert detail["details"][0]["value"] == pytest.approx(comp["idf"], abs=0)
    norm = 2.0 / (2.0 + K1 * (1 - B + B * 1.0))
    assert detail["value"] == pytest.approx(comp["idf"] * norm, rel=1e-12)
    assert tree["value"] == pytest.approx(detail["value"], abs=0)
    missing = explanation_tree([], doc_id=9)
    assert missing["matched"] is False and missing["value"] == 0.0


BASE = "/tmp/test_engine_explain"


def test_engine_explain_matches_served_score(spark):
    """``SearchEngine.explain`` rebuilds the served score from single
    covering blocks — the totals must equal the driver-served bag's
    scores bit for bit (one BM25 expression, the distinct terms added
    in term order). The five-token query's hits match four or five
    terms, where the order of the float sum can change its last bit."""
    from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
    from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

    shutil.rmtree(BASE, ignore_errors=True)
    pages = synthesize_webpages(spark, 120, partitions=4)
    eng = SearchEngine.build(spark, pages, BASE, lang_filter=None)
    for text in ("검색 엔진", "처리 엔진 문서 검색 색인"):
        hits = eng.search(text, k=5, conjunctive=False)
        assert hits and eng.last_route == "driver"
        for h in hits:
            tree = eng.explain(text, h["doc_id"])
            assert tree["matched"]
            assert tree["value"] == h["score"]  # bit for bit
            # per-term detail carries the idf/tf-norm product structure
            for d in tree["details"]:
                idf, norm = (x["value"] for x in d["details"])
                assert d["value"] == pytest.approx(idf * norm, rel=1e-12)
    assert max(len(eng.explain(text, h["doc_id"])["details"]) for h in hits) >= 3
    # a doc the query does not match explains as unmatched
    unmatched_id = next(
        i for i in range(120) if i not in {h["doc_id"] for h in hits}
    )
    t = eng.explain("zzz-없는-용어", unmatched_id)
    assert t["matched"] is False and t["value"] == 0.0


# --------------------------------------------------------------------------
# collapse_topk
# --------------------------------------------------------------------------


def _collapse_inputs(spark):
    scored = spark.createDataFrame(
        [(1, 9.0), (2, 8.0), (3, 7.0), (4, 6.0), (5, 5.0), (7, 4.0)],
        "doc_id long, score double",
    )
    attrs = spark.createDataFrame(
        [(1, "news"), (2, "news"), (3, "blog"), (4, None), (5, None), (7, "news")],
        "doc_id long, source string",
    )
    return scored, attrs


def test_collapse_top1_per_group_and_null_singletons(spark):
    scored, attrs = _collapse_inputs(spark)
    rows = collapse_topk(scored, attrs, "source", k=10).collect()
    got = [(r["group"], r["doc_id"], r["score"]) for r in rows]
    # news collapses to doc1; blog keeps doc3; NULL docs 4 and 5 both
    # survive as singleton groups; global order is score desc
    assert got == [
        ("news", 1, 9.0),
        ("blog", 3, 7.0),
        (None, 4, 6.0),
        (None, 5, 5.0),
    ]


def test_collapse_inner_hits_and_k_cut(spark):
    scored, attrs = _collapse_inputs(spark)
    rows = collapse_topk(scored, attrs, "source", k=3, inner_hits=2).collect()
    # news keeps its top-2 (docs 1,2), blog 1, then k=3 cuts
    assert [(r["group"], r["doc_id"]) for r in rows] == [
        ("news", 1),
        ("news", 2),
        ("blog", 3),
    ]


def test_collapse_scored_doc_missing_attrs_is_null_group(spark):
    """A scored doc absent from the attr relation behaves like a NULL
    group (left join), not a dropped hit."""
    scored, attrs = _collapse_inputs(spark)
    rows = collapse_topk(scored, attrs.filter("doc_id != 3"), "source", k=10)
    got = {(r["group"], r["doc_id"]) for r in rows.collect()}
    assert (None, 3) in got


# --------------------------------------------------------------------------
# blocklist
# --------------------------------------------------------------------------


def _bl_docs(spark):
    return spark.createDataFrame(
        [
            (1, "the Class is great"),     # 'class' != 'ass'; 'the' blocked
            (2, "BAD bad Bad"),            # case-insensitive, all blocked
            (3, "clean words only"),
            (4, ""),                       # empty -> 0 tokens, frac 0.0
            (5, "half bad"),
        ],
        "doc_id long, text string",
    )


def test_blocklist_stats_token_exact_case_insensitive(spark):
    rows = {
        r["doc_id"]: r
        for r in blocklist_stats(_bl_docs(spark), ["ass", "bad", "THE"]).collect()
    }
    assert (rows[1]["n_tokens"], rows[1]["blocked_tokens"]) == (4, 1)
    assert (rows[2]["n_tokens"], rows[2]["blocked_tokens"]) == (3, 3)
    assert rows[2]["blocked_frac"] == pytest.approx(1.0)
    assert rows[3]["blocked_tokens"] == 0
    assert (rows[4]["n_tokens"], rows[4]["blocked_frac"]) == (0, 0.0)
    assert rows[5]["blocked_frac"] == pytest.approx(0.5)


def test_blocklist_filter_thresholds(spark):
    docs = _bl_docs(spark)
    words = ["bad", "the"]
    # C4-style any-occurrence drop
    kept0 = {r["doc_id"] for r in blocklist_filter(docs, words).collect()}
    assert kept0 == {3, 4}
    # fraction threshold keeps the 25%-blocked doc
    kept = {
        r["doc_id"]
        for r in blocklist_filter(docs, words, max_blocked_frac=0.3).collect()
    }
    assert kept == {1, 3, 4}


# --------------------------------------------------------------------------
# term_vectors
# --------------------------------------------------------------------------


def test_term_vectors_positions(spark):
    docs = spark.createDataFrame(
        [(1, "a b a  c a"), (2, "x"), (3, "")],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["term"]): r for r in term_vectors(docs).collect()
    }
    # double space collapses (empty tokens filtered): positions are
    # 0-based over the FILTERED token sequence
    assert rows[(1, "a")]["tf"] == 3
    assert rows[(1, "a")]["positions"] == [0, 2, 4]
    assert rows[(1, "b")]["positions"] == [1]
    assert rows[(1, "c")]["positions"] == [3]
    assert rows[(2, "x")]["positions"] == [0]
    assert not [k for k in rows if k[0] == 3]  # empty doc emits nothing


def test_term_vectors_tf_agrees_with_postings_oracle(spark):
    """tf in term_vectors == len(positions) everywhere."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bad = (
        term_vectors(docs)
        .filter(F.col("tf") != F.size("positions"))
        .count()
    )
    assert bad == 0
