"""Compound query surface (``query/compound.py``): dis_max laws,
boosting demotion, constant_score, wildcard translation + retrieval,
and match_phrase_prefix vs a brute-force position oracle."""

import re

import pyspark.sql.functions as F
import pytest

from mecab_ko_lucene_analyzer_spark.index.build import InvertedIndex
from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored
from mecab_ko_lucene_analyzer_spark.query.compound import (
    boosting_topk,
    constant_score_docs,
    dis_max_scored,
    dis_max_topk,
    phrase_prefix_docs,
    wildcard_expand_terms,
    wildcard_to_regexp,
    wildcard_topk,
)

TEXTS = [
    "spark query engine",
    "query data data table",
    "spark spark batch stream",
    "data lake table scan scan",
    "stream batch window agg",
    "spark data query batch",
    "table scan index merge",
    "query query query spark data",
]


@pytest.fixture(scope="module")
def ws_index(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    postings = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    term_stats = postings.groupBy("term").agg(F.count("*").alias("df"))
    doc_stats = toks.groupBy("doc_id").agg(F.count("*").alias("doc_len"))
    corpus = doc_stats.agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )
    return InvertedIndex(postings, term_stats, doc_stats, corpus).cache()


def _scores(df):
    return {r["doc_id"]: r["score"] for r in df.collect()}


# ------------------------------------------------------------------ dis_max


def test_dis_max_tb0_is_clause_max(ws_index):
    c1, c2 = ["spark", "query"], ["table", "scan"]
    got = _scores(dis_max_scored(ws_index, [c1, c2], tie_breaker=0.0))
    s1, s2 = _scores(bm25_scored(ws_index, c1)), _scores(bm25_scored(ws_index, c2))
    want = {
        d: max(s1.get(d, 0.0), s2.get(d, 0.0))
        for d in set(s1) | set(s2)
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_dis_max_tb1_disjoint_equals_or_sum(ws_index):
    # disjoint clauses + tie_breaker 1.0 degenerate to the plain OR sum
    c1, c2 = ["spark", "query"], ["table", "scan"]
    got = _scores(dis_max_scored(ws_index, [c1, c2], tie_breaker=1.0))
    want = _scores(bm25_scored(ws_index, c1 + c2))
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_dis_max_overlapping_term_counts_in_both(ws_index):
    # 'spark' sits in both clauses: each clause scores it independently
    c1, c2 = ["spark"], ["spark", "batch"]
    got = _scores(dis_max_scored(ws_index, [c1, c2], tie_breaker=0.5))
    s1, s2 = _scores(bm25_scored(ws_index, c1)), _scores(bm25_scored(ws_index, c2))
    for d in got:
        a, b = s1.get(d, 0.0), s2.get(d, 0.0)
        assert got[d] == pytest.approx(max(a, b) + 0.5 * (a + b - max(a, b)), rel=1e-12)


def test_dis_max_topk_rank_deterministic(ws_index):
    rows = dis_max_topk(ws_index, [["spark"], ["data"]], 0.3, k=3).collect()
    assert len(rows) == 3
    ranks = [(-r["score"], r["doc_id"]) for r in rows]
    assert ranks == sorted(ranks)


def test_dis_max_empty_clauses(ws_index):
    assert dis_max_scored(ws_index, []).count() == 0


# ----------------------------------------------------------------- boosting


def test_boosting_demotes_not_excludes(ws_index):
    pos, neg, nb = ["spark", "query"], ["batch"], 0.25
    base = _scores(bm25_scored(ws_index, pos))
    neg_docs = {
        r["doc_id"]
        for r in ws_index.postings.filter(F.col("term").isin(neg))
        .select("doc_id")
        .distinct()
        .collect()
    }
    got = _scores(boosting_topk(ws_index, pos, neg, nb, k=len(TEXTS)))
    assert set(got) == set(base)  # nothing excluded
    assert neg_docs & set(base)  # the demotion actually fires
    for d, s in got.items():
        want = base[d] * nb if d in neg_docs else base[d]
        assert s == pytest.approx(want, rel=1e-12)


def test_boosting_applies_before_topk_cut(ws_index):
    pos, neg = ["spark", "query"], ["batch"]
    full = boosting_topk(ws_index, pos, neg, 0.05, k=len(TEXTS)).collect()
    head = boosting_topk(ws_index, pos, neg, 0.05, k=2).collect()
    assert [r["doc_id"] for r in head] == [r["doc_id"] for r in full[:2]]


# ----------------------------------------------------- constant_score


def test_constant_score_matches_or_set(ws_index):
    terms, boost = ["window", "index"], 1.5
    got = _scores(constant_score_docs(ws_index, terms, boost))
    want = {
        r["doc_id"]
        for r in ws_index.postings.filter(F.col("term").isin(terms))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert set(got) == want
    assert all(s == boost for s in got.values())


# ------------------------------------------------------------- wildcard


def test_wildcard_to_regexp_translation():
    assert wildcard_to_regexp("s?a*") == "s.a.*"
    assert wildcard_to_regexp("a.b*") == re.escape("a.b") + ".*"
    assert wildcard_to_regexp("plain") == "plain"
    # translated pattern is full-string matched by the expansion walk
    assert re.fullmatch(wildcard_to_regexp("s?a*"), "scan")
    assert re.fullmatch(wildcard_to_regexp("s?a*"), "spark")
    assert not re.fullmatch(wildcard_to_regexp("s?a*"), "stream")
    assert not re.fullmatch(wildcard_to_regexp("a.b"), "axb")


def test_wildcard_expansion_and_scoring(ws_index):
    terms = wildcard_expand_terms(ws_index.term_stats, "s*", max_expansions=50)
    assert set(terms) == {"spark", "stream", "scan"}
    got = _scores(wildcard_topk(ws_index, "s*", k=len(TEXTS)))
    want = _scores(bm25_scored(ws_index, terms))
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_wildcard_no_match_is_empty(ws_index):
    assert wildcard_topk(ws_index, "zz*", k=5).count() == 0


# ------------------------------------------------- match_phrase_prefix


@pytest.fixture(scope="module")
def ws_blocks(spark):
    from mecab_ko_lucene_analyzer_spark.index.blocks import (
        build_blocks_from_partials,
    )
    from mecab_ko_lucene_analyzer_spark.index.build import (
        _stats_from_partials,
        partials_from_tokens,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("position", "term"),
    )
    partials = partials_from_tokens(toks).persist()
    term_stats, doc_stats = _stats_from_partials(partials)
    row = doc_stats.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
    ).first()
    blocks = build_blocks_from_partials(
        partials, term_stats, row["n"], float(row["avgdl"]), hot_min_df=10**9
    ).cache()
    return blocks


def _brute_phrase_prefix(fixed, expansions, slop=0):
    out = set()
    for i, t in enumerate(TEXTS):
        toks = t.split(" ")
        n = len(fixed)
        for start in range(len(toks)):
            # exact check via the same DP the engine uses would be
            # overkill for slop=0/1 on these tiny docs: enumerate
            def reach(slot, prev):
                if slot == n + 1:
                    return True
                cand = (
                    [e for e in expansions] if slot == n else [fixed[slot]]
                )
                for j in range(prev + 1, min(prev + 2 + slop, len(toks))):
                    if toks[j] in cand and reach(slot + 1, j):
                        return True
                return False

            if toks[start] == fixed[0] and reach(1, start):
                out.add(i)
    return out


def test_phrase_prefix_basic(spark, ws_blocks):
    # "data" followed by a 'ta'-prefix term → "data table" docs only
    got = {
        r["doc_id"]
        for r in phrase_prefix_docs(ws_blocks, ["data"], ["table"]).collect()
    }
    assert got == _brute_phrase_prefix(["data"], ["table"])
    assert got  # non-trivial


def test_phrase_prefix_multi_expansion_union(spark, ws_blocks):
    got = {
        r["doc_id"]
        for r in phrase_prefix_docs(
            ws_blocks, ["spark"], ["query", "data", "batch"]
        ).collect()
    }
    assert got == _brute_phrase_prefix(["spark"], ["query", "data", "batch"])
    assert len(got) >= 2


def test_phrase_prefix_fixed_term_in_expansions(spark, ws_blocks):
    # overlap: 'spark spark batch' — fixed term also matches the prefix
    got = {
        r["doc_id"]
        for r in phrase_prefix_docs(
            ws_blocks, ["spark"], ["spark", "scan"]
        ).collect()
    }
    assert got == _brute_phrase_prefix(["spark"], ["spark", "scan"])
    assert 2 in got  # "spark spark batch stream"


def test_phrase_prefix_slop(spark, ws_blocks):
    # slop 1 bridges one gap: "query data data table" has query..data
    strict = _brute_phrase_prefix(["query", "data"], ["table"], slop=0)
    sloppy = _brute_phrase_prefix(["query", "data"], ["table"], slop=1)
    got0 = {
        r["doc_id"]
        for r in phrase_prefix_docs(
            ws_blocks, ["query", "data"], ["table"], slop=0
        ).collect()
    }
    got1 = {
        r["doc_id"]
        for r in phrase_prefix_docs(
            ws_blocks, ["query", "data"], ["table"], slop=1
        ).collect()
    }
    assert got0 == strict
    assert got1 == sloppy


def test_phrase_prefix_empty_expansions(spark, ws_blocks):
    assert phrase_prefix_docs(ws_blocks, ["spark"], []).count() == 0


# --------------------------------------------- wildcard property tests


@pytest.mark.parametrize("seed", range(3))
def test_wildcard_translation_matches_fnmatch(seed):
    """Property: for bracket-free patterns, the translated regex
    full-matches a string iff fnmatch's own translation does (the
    reference semantics for * and ? globs)."""
    import fnmatch
    import random
    import re as _re

    rng = random.Random(seed)
    alphabet = "abcxyz.*?"
    for _ in range(200):
        pattern = "".join(
            rng.choice(alphabet) for _ in range(rng.randint(0, 6))
        )
        candidate = "".join(
            rng.choice("abcxyz.") for _ in range(rng.randint(0, 6))
        )
        ours = bool(_re.fullmatch(wildcard_to_regexp(pattern), candidate))
        theirs = bool(
            _re.match(fnmatch.translate(pattern), candidate)
        )
        assert ours == theirs, (pattern, candidate)
