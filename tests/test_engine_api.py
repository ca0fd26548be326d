"""SearchEngine facade + highlight + JSON query spec + paging/count."""

import shutil

import pytest
import pyspark.sql.functions as F

from mecab_ko_lucene_analyzer_spark.analysis.dictionary import (
    AnalyzerOption,
    SynonymDictionary,
)
from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
from mecab_ko_lucene_analyzer_spark.query.ast import And, Or, Phrase, Term, from_json, to_json
from mecab_ko_lucene_analyzer_spark.query.highlight import highlight, highlight_spans
from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

BASE = "/tmp/test_engine_api"


@pytest.fixture(scope="module")
def engine(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    pages = synthesize_webpages(spark, 150, partitions=4)
    opt = AnalyzerOption(synonyms=SynonymDictionary({"검색": ["서치"]}))
    return SearchEngine.build(spark, pages, BASE, option=opt, lang_filter=None)


def test_search_and_paging(engine):
    all10 = engine.search("검색 엔진", k=10, conjunctive=False)
    assert all10
    page2 = engine.search("검색 엔진", k=5, offset=5, conjunctive=False)
    assert [h["doc_id"] for h in page2] == [h["doc_id"] for h in all10[5:10]]
    assert all(h["url"].startswith("https://example-") for h in all10)


def test_search_exclude_must_not(engine, spark):
    """search(exclude=): hits are exactly the unexcluded hits minus
    docs containing the excluded token, scores untouched; the excluded
    text goes through the SAME analysis chain (synonyms included)."""
    plain = engine.search("검색", k=150)
    negated = engine.search("검색", k=150, exclude="엔진")
    pages = synthesize_webpages(spark, 150, partitions=4)
    rows = sorted(pages.select("url", "text").collect(), key=lambda r: r["url"])
    has_engine = {
        i
        for i, r in enumerate(rows)
        if any(t["term"] == "엔진" for t in engine.analyze(r["text"]))
    }
    want = [h for h in plain if h["doc_id"] not in has_engine]
    assert [(h["doc_id"], h["score"]) for h in negated] == [
        (h["doc_id"], h["score"]) for h in want
    ]
    assert negated and len(negated) < len(plain)
    # the engine's synonym 검색→서치 applies to the excluded text too:
    # excluding 서치 must behave as excluding its synonym group
    assert engine.build_query("문서", exclude="검색").children[-1].child.children


def test_search_exclude_requires_conjunctive(engine):
    with pytest.raises(ValueError):
        engine.search("검색 엔진", exclude="문서", conjunctive=False)
    with pytest.raises(ValueError):
        engine.count("검색", exclude="문서", conjunctive=False)


def test_count_exclude_matches_search_membership(engine):
    """count(exclude=) == number of hits search(exclude=) returns at
    full fetch — and equals plain count minus the excluded overlap."""
    n_plain = engine.count("검색")
    n_not = engine.count("검색", exclude="엔진")
    hits = engine.search("검색", k=1000, exclude="엔진")
    assert n_not == len(hits)
    n_both = engine.count("검색 엔진")  # conjunctive overlap
    assert n_not == n_plain - n_both


def test_search_ast_json_not_clause(engine):
    """Q7 JSON surface: a must_not clause arrives as {"not": ...} and
    serves identically to the structured AST."""
    spec = '{"and": [{"term": "검색"}, {"not": {"term": "엔진"}}]}'
    from mecab_ko_lucene_analyzer_spark.query.ast import Not

    got = engine.search_ast(spec, k=20)
    want = engine.search_ast(And((Term("검색"), Not(Term("엔진")))), k=20)
    assert [(h["doc_id"], h["score"]) for h in got] == [
        (h["doc_id"], h["score"]) for h in want
    ]
    assert got


def test_search_prefix_and_fuzzy(engine, spark):
    """Prefix/fuzzy serving: every prefix hit contains a vocabulary
    term with that prefix; fuzzy of an exact vocabulary term is a
    superset of (and scores no lower than) the exact disjunctive
    search; paging slices the same ranking."""
    hits = engine.search_prefix("검", k=10)
    assert hits
    pages = synthesize_webpages(spark, 150, partitions=4)
    rows = sorted(pages.select("url", "text").collect(), key=lambda r: r["url"])
    toks = {i: {t["term"] for t in engine.analyze(r["text"])} for i, r in enumerate(rows)}
    for h in hits:
        assert any(t.startswith("검") for t in toks[h["doc_id"]])
    page2 = engine.search_prefix("검", k=5, offset=5)
    assert [h["doc_id"] for h in page2] == [h["doc_id"] for h in hits[5:10]]

    fz = engine.search_fuzzy("검색", k=150, max_edits=1)
    exact = engine.search("검색", k=150, conjunctive=False)
    fz_scores = {h["doc_id"]: h["score"] for h in fz}
    assert set(h["doc_id"] for h in exact) <= set(fz_scores)
    for h in exact:
        assert fz_scores[h["doc_id"]] >= h["score"] - 1e-9
    assert engine.search_prefix("없는접두어", k=5) == []


def test_search_regexp_anchored_equals_prefix_expansion(engine):
    """Regexp serving: '검.*' full-string-matches exactly the terms
    prefix '검' expands to, so both searches serve the identical
    ranking; a pattern matching no vocabulary term returns []."""
    rx = engine.search_regexp("검.*", k=10)
    px = engine.search_prefix("검", k=10)
    assert [(h["doc_id"], h["score"]) for h in rx] == [
        (h["doc_id"], h["score"]) for h in px
    ]
    # anchoring: a mid-string fragment must NOT match like a substring
    assert engine.search_regexp("색", k=5) == []
    assert engine.search_regexp("zz+", k=5) == []


def test_search_after_walks_the_offset_ranking(engine):
    """Keyset paging reproduces offset paging's ranking without the
    O(depth) fetch: cursoring from page 1's last hit returns exactly
    hits 6-10 of the disjunctive ranking."""
    full = engine.search("검색 엔진", k=10, conjunctive=False)
    p1 = engine.search_after("검색 엔진", k=5)
    assert [(h["doc_id"], round(h["score"], 9)) for h in p1] == [
        (h["doc_id"], round(h["score"], 9)) for h in full[:5]
    ]
    cursor = (p1[-1]["score"], p1[-1]["doc_id"])
    p2 = engine.search_after("검색 엔진", after=cursor, k=5)
    assert [h["doc_id"] for h in p2] == [h["doc_id"] for h in full[5:10]]


def test_count_conjunctive_vs_disjunctive(engine):
    c_and = engine.count("검색 엔진", conjunctive=True)
    c_or = engine.count("검색 엔진", conjunctive=False)
    assert 0 < c_and <= c_or


def test_search_bulk_rank_identical_to_serving(engine):
    """One-job bulk retrieval must return, per query, exactly the
    ranked list the serving path's search() returns — across the
    AST sub-batch (conjunctive + synonym queries) and the WAND
    sub-batch (plain disjunctive bags)."""
    texts = ["검색 엔진", "한국어 문서", "삼성전자", "없는단어쿼리"]
    for conjunctive in (True, False):
        got = {}
        rows = engine.search_bulk(texts, k=8, conjunctive=conjunctive)
        for r in rows.collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], round(r["score"], 9))
            )
        for i, text in enumerate(texts):
            want = [
                (rank, h["doc_id"], round(h["score"], 9))
                for rank, h in enumerate(
                    engine.search(text, k=8, conjunctive=conjunctive), start=1
                )
            ]
            assert sorted(got.get(i, [])) == sorted(want), (text, conjunctive)


def test_search_bulk_offset_pages_every_query(engine):
    """Bulk Q8 scroll: offset=o returns exactly ranks o+1..o+k of the
    full fetch, ranks absolute — per query, both sub-batches."""
    texts = ["검색 엔진", "한국어 문서", "삼성전자"]
    full = {}
    for r in engine.search_bulk(texts, k=10, conjunctive=False).collect():
        full.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9))
        )
    paged = {}
    for r in (
        engine.search_bulk(texts, k=6, conjunctive=False, offset=4).collect()
    ):
        paged.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9))
        )
    for qid, rows in full.items():
        want = sorted(t for t in rows if 4 < t[0] <= 10)
        assert sorted(paged.get(qid, [])) == want, qid


def test_search_ast_phrase_and_paging(engine):
    """Structured-query serving (Q7/Q4): a JSON phrase query through
    search_ast must match the raw executor's ranking with URLs
    attached, accept AST nodes directly, and page like search()."""
    from mecab_ko_lucene_analyzer_spark.query.executor import execute_ast

    ast = And((Term("검색"), Phrase(("검색", "엔진"))))
    want = execute_ast(
        ast, engine.blocks, engine.term_stats, engine.n_docs,
        engine.avgdl, k=10, cache=engine.block_cache,
    )
    got = engine.search_ast(to_json(ast), k=10)
    assert [h["doc_id"] for h in got] == [d for d, _ in want]
    for h, (_, s) in zip(got, want):
        assert h["score"] == pytest.approx(s, abs=1e-12)
        assert h["url"].startswith("https://example-")
    # AST-node input and paging slice consistency
    assert engine.search_ast(ast, k=10) == got
    # parsed-JSON dict input (the natural REST-layer payload) — the
    # from_json contract is str | dict, both entry points honor it
    import json

    spec = json.loads(to_json(ast))
    assert engine.search_ast(spec, k=10) == got
    assert engine.count_ast(spec) == engine.count_ast(to_json(ast))
    page2 = engine.search_ast(ast, k=4, offset=4)
    assert [h["doc_id"] for h in page2] == [h["doc_id"] for h in got[4:8]]
    # highlight terms come from the tree
    lit = engine.search_ast(ast, k=1, highlight=True)
    if lit:
        assert lit[0]["highlight_terms"] == ["검색", "엔진"]


def test_search_ast_hot_routes_distributed(spark, engine, monkeypatch):
    """A hot-term structured phrase query must evaluate distributed —
    no driver block fetch — and return the driver route's results."""
    opt = AnalyzerOption(synonyms=SynonymDictionary({"검색": ["서치"]}))
    hot = SearchEngine(spark, BASE, opt, max_driver_df=0)
    ast = And((Term("검색"), Phrase(("검색", "엔진"))))
    want = engine.search_ast(ast, k=8)

    import mecab_ko_lucene_analyzer_spark.query.wand as wand_mod

    def _forbidden(*a, **kw):
        raise AssertionError("hot search_ast collected blocks driver-side")

    monkeypatch.setattr(wand_mod, "fetch_term_blocks", _forbidden)
    got = hot.search_ast(ast, k=8)
    assert hot.last_route == "distributed"
    assert [h["doc_id"] for h in got] == [h["doc_id"] for h in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-9)
        assert g["url"] == w["url"]


def test_count_ast_matches_executor(engine):
    """Structured count (full AST semantics, Q8 trackTotalHits) must
    equal the number of docs the executor matches, across plain
    conjunctions, synonym Or-groups, phrase filters, and JSON input."""
    from mecab_ko_lucene_analyzer_spark.query.executor import execute_ast

    asts = [
        And((Term("검색"), Term("엔진"))),
        Or((Term("검색"), Term("엔진"))),
        Phrase(("검색", "엔진")),
        And((Term("검색"), Phrase(("검색", "엔진")))),
        And((Or((Term("검색"), Term("서치"))), Term("엔진"))),
    ]
    for ast in asts:
        want = len(
            execute_ast(
                ast, engine.blocks, engine.term_stats, engine.n_docs,
                engine.avgdl, k=engine.n_docs, cache=engine.block_cache,
            )
        )
        assert engine.count_ast(ast) == want, ast
        assert engine.count_ast(to_json(ast)) == want, ast
    assert engine.count_ast(And(())) == 0


def test_count_ast_hot_routes_distributed(spark, engine, monkeypatch):
    opt = AnalyzerOption()
    hot = SearchEngine(spark, BASE, opt, max_driver_df=0)
    ast = And((Term("검색"), Phrase(("검색", "엔진"))))
    want = engine.count_ast(ast)
    assert engine.last_route == "driver"

    import mecab_ko_lucene_analyzer_spark.query.wand as wand_mod

    def _forbidden(*a, **kw):
        raise AssertionError("hot count_ast collected blocks driver-side")

    monkeypatch.setattr(wand_mod, "fetch_term_blocks", _forbidden)
    got = hot.count_ast(ast)
    assert hot.last_route == "distributed"
    assert got == want


def test_direct_doc_map_matches_spark_resolve(engine):
    """The zero-Spark-job URL resolve must return exactly what the
    pruned Spark filter returns, and search() must use it on a local
    index."""
    import pyspark.sql.functions as F

    assert engine._doc_map_direct is not None
    hits = engine.search("검색 엔진", k=10, conjunctive=False)
    ids = [h["doc_id"] for h in hits]
    via_spark = {
        r["doc_id"]: r["url"]
        for r in engine.doc_map.filter(F.col("doc_id").isin(ids)).collect()
    }
    assert engine._doc_map_direct.fetch(ids) == via_spark
    assert all(h["url"] == via_spark[h["doc_id"]] for h in hits)


def _spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by the statusTracker under a job
    group of its own. A marker job in a second group closes the count:
    the listener bus delivers job starts in order, so once the marker
    shows, every job ``fn`` ran shows too."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, marker = f"audit-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serving audit")
    try:
        fn()
        sc.setJobGroup(marker, "serving audit marker")
        sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(marker):
            assert time.monotonic() < deadline, "marker job never showed"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(tracker.getJobIdsForGroup(group))


def test_search_runs_no_spark_job_on_a_local_index(spark):
    """On a locally readable index every serving read — df lookup,
    block fetch, URL resolve — bypasses Spark: a fresh engine's first
    tail query (a noun plus an unseen number) and first head query run
    zero Spark jobs. A term hotter than ``max_driver_df`` still routes
    the query to the distributed scorer, with its answer."""
    from mecab_ko_lucene_analyzer_spark.query.ast import ast_terms
    from mecab_ko_lucene_analyzer_spark.query.router import (
        distributed_ast_topk,
        term_dfs,
    )

    opt = AnalyzerOption(synonyms=SynonymDictionary({"검색": ["서치"]}))
    fresh = SearchEngine(spark, BASE, opt)
    head, tail = "검색 엔진", "엔진 7351"
    hits = {}

    def serve():
        hits[tail] = fresh.search(tail, k=10)
        hits[head] = fresh.search(head, k=10)

    assert _spark_jobs(spark, serve) == 0
    assert fresh.last_route == "driver" and hits[head]
    ast = fresh.build_query(head)
    dfs = term_dfs(fresh.term_stats, sorted(ast_terms(ast)))
    want = distributed_ast_topk(ast, fresh.blocks, dfs, fresh.n_docs, fresh.avgdl, 10)
    hot = SearchEngine(spark, BASE, opt, max_driver_df=dfs["엔진"] - 1)
    got = hot.search(head, k=10)
    assert hot.last_route == "distributed"
    for served in (hits[head], got):
        assert [h["doc_id"] for h in served] == [d for d, _ in want]
        for h, (_, s) in zip(served, want):
            assert h["score"] == pytest.approx(s, abs=1e-9)


def test_dfs_fall_back_to_term_dfs_when_the_index_is_not_local(
    spark, engine, monkeypatch
):
    """Where the term_stats files cannot be opened directly (a remote
    index), ``_dfs`` answers through the Spark lookup ``term_dfs``."""
    import mecab_ko_lucene_analyzer_spark.query.wand as wand_mod
    from mecab_ko_lucene_analyzer_spark.query import router

    def unreadable(path):
        raise OSError(f"not a local path: {path}")

    monkeypatch.setattr(wand_mod, "DirectTermStatsReader", unreadable)
    remote = SearchEngine(spark, BASE, AnalyzerOption())
    assert remote._term_stats_direct is None
    calls = []
    real = router.term_dfs

    def counted(term_stats, terms):
        calls.append(list(terms))
        return real(term_stats, terms)

    monkeypatch.setattr(router, "term_dfs", counted)
    terms = ["검색", "엔진", "없는용어", "검색"]
    assert remote._dfs(terms) == engine._term_stats_direct.fetch(terms)
    assert calls == [["검색", "없는용어", "엔진"]]


def test_query_cli_bulk(engine, spark, tmp_path, capsys, monkeypatch):
    """jobs/query.py --bulk: a query file scored in one job, JSON-lines
    out, ranks agreeing with the serving path."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path("jobs").resolve()))
    import query as query_job

    qfile = tmp_path / "queries.txt"
    qfile.write_text("검색 엔진\n삼성전자\n", encoding="utf-8")
    monkeypatch.setattr(
        sys,
        "argv",
        ["query.py", "--index", BASE, "--bulk", str(qfile), "-k", "5"],
    )
    monkeypatch.setattr(
        "mecab_ko_lucene_analyzer_spark.plans.get_spark", lambda **kw: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    query_job.main()
    lines = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert lines and {r["query_id"] for r in lines} == {0, 1}
    serving = engine.search("검색 엔진", k=5)
    got_q0 = [r["doc_id"] for r in lines if r["query_id"] == 0]
    assert got_q0 == [h["doc_id"] for h in serving]


def test_query_cli_ast_json(engine, spark, capsys, monkeypatch):
    """jobs/query.py --ast-json: structured phrase query through the
    CLI equals engine.search_ast."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path("jobs").resolve()))
    import query as query_job

    ast = And((Term("검색"), Phrase(("검색", "엔진"))))
    monkeypatch.setattr(
        sys,
        "argv",
        ["query.py", "--index", BASE, "--ast-json", to_json(ast), "-k", "5"],
    )
    monkeypatch.setattr(
        "mecab_ko_lucene_analyzer_spark.plans.get_spark", lambda **kw: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    query_job.main()
    hits = json.loads(capsys.readouterr().out)
    want = engine.search_ast(ast, k=5)
    assert [h["doc_id"] for h in hits] == [h["doc_id"] for h in want]


def test_query_ast_json_roundtrip(engine):
    ast = engine.build_query("검색 문서")
    j = to_json(ast)
    assert from_json(j) == ast
    nested = And((Or((Term("a"), Phrase(("b", "c"), 1))), Term("d")))
    assert from_json(to_json(nested)) == nested


def test_synonym_becomes_or_subtree(engine):
    ast = engine.build_query("검색")
    assert isinstance(ast.children[0], Or)
    terms = {getattr(c, "term", None) for c in ast.children[0].children}
    assert {"검색", "서치"} <= terms


def test_highlight():
    text = "한국어 검색 엔진 테스트"
    spans = highlight_spans(text, ["검색", "엔진"])
    assert (4, 6) in spans and (7, 9) in spans
    marked = highlight(text, ["검색", "엔진"])
    assert "<em>검색</em>" in marked and "<em>엔진</em>" in marked
    # adjacent/overlapping spans merge
    assert highlight("검색 검색", ["검색"]).count("<em>") == 2


def test_highlight_overlapping_compound_spans():
    """A compound query term and its decomposed parts produce nested/
    overlapping token spans (검색엔진 + 검색 + 엔진 all match) — they
    must merge into ONE span, not nested tags (the reference's span
    semantics, TermHighlightingQuery.java:26)."""
    text = "검색엔진은 빠르다"
    spans = highlight_spans(text, ["검색엔진", "검색", "엔진"])
    assert spans == [(0, 4)]
    marked = highlight(text, ["검색엔진", "검색", "엔진"])
    assert marked == "<em>검색엔진</em>은 빠르다"
    assert marked.count("<em>") == 1


def test_highlight_adjacent_spans_stay_separate():
    # adjacent-but-not-overlapping tokens each get their own span
    text = "검색 엔진"
    spans = highlight_spans(text, ["검색", "엔진"])
    assert spans == [(0, 2), (3, 5)]


def test_highlight_extra_term_same_position_spans():
    """EOJEOL extra term (검색은) and its content token (검색) sit at the
    SAME position with nested offsets (0-3 vs 0-2): matching either
    highlights a clean region, matching both merges to the wider span —
    never nested/broken tags."""
    text = "검색은 데이터다."
    assert highlight_spans(text, ["검색"]) == [(0, 2)]
    assert highlight_spans(text, ["검색은"]) == [(0, 3)]
    spans = highlight_spans(text, ["검색", "검색은"])
    assert spans == [(0, 3)]
    assert highlight(text, ["검색", "검색은"]) == "<em>검색은</em> 데이터다."


def test_phrase_highlight_slop_windows():
    """Phrase-consistent highlighting: only tokens inside an in-order
    window within slop light up — the executor's _PhraseNode condition
    (next position in (prev, prev+1+slop]) applied at render time. The
    reference's TermHighlightingQuery would light every term occurrence
    regardless of the window; this is the stricter phrase rendering."""
    from mecab_ko_lucene_analyzer_spark.query.highlight import (
        phrase_highlight_spans,
    )

    # adjacent phrase matches at slop 0
    assert phrase_highlight_spans("검색 엔진", ["검색", "엔진"], slop=0) == [
        (0, 2),
        (3, 5),
    ]
    # "검색 최고 엔진" analyzes to positions 검색=0, 최=1, 고=2, 엔진=3:
    # the gap is 2 intervening positions → needs slop ≥ 2
    text = "검색 최고 엔진"
    assert phrase_highlight_spans(text, ["검색", "엔진"], slop=1) == []
    assert phrase_highlight_spans(text, ["검색", "엔진"], slop=2) == [
        (0, 2),
        (6, 8),
    ]
    # term-set semantics (the reference's model) lights both terms even
    # when no window exists — the two renderings are distinct on purpose
    assert highlight_spans(text, ["검색", "엔진"]) == [(0, 2), (6, 8)]
    # out-of-order terms never form a window
    assert phrase_highlight_spans("엔진 검색", ["검색", "엔진"], slop=3) == []


def test_highlight_synonym_expanded_terms():
    """Query-side synonym expansion hands the highlighter BOTH surfaces;
    only the one present in the doc is marked, and eojeol-surface
    matches (검색엔진은) don't leak tag boundaries mid-character."""
    text = "삼성전자 제품과 검색엔진은 다르다"
    marked = highlight(text, ["samsung", "삼성전자", "검색엔진"])
    assert "<em>삼성전자</em>" in marked
    assert "<em>검색엔진은</em>" in marked or "<em>검색엔진</em>은" in marked
    assert "samsung" not in marked


def test_df_cache_is_lru_bounded(engine):
    """The per-term df cache must evict (LRU) instead of growing with
    every distinct query term forever — a long-lived serving node sees
    an open-ended term stream (typos included). The cache sits in front
    of the Spark fallback, so the test takes that path."""
    engine._df_cache.clear()
    old_max = engine._df_cache_max
    direct, engine._term_stats_direct = engine._term_stats_direct, None
    try:
        engine._df_cache_max = 4
        for i in range(10):
            engine._dfs([f"없는용어{i}"])
        assert len(engine._df_cache) <= 4
        # recently-used keys survive, oldest evicted
        assert "없는용어9" in engine._df_cache
        assert "없는용어0" not in engine._df_cache
        # values still correct through eviction (misses refetch)
        dfs = engine._dfs(["없는용어0"])
        assert dfs["없는용어0"] == 0
    finally:
        engine._df_cache_max = old_max
        engine._term_stats_direct = direct


def test_whitespace_highlight_spans_semantics():
    """The SQL-replicable highlight variant: char offsets count
    single-space separators (consecutive spaces shift later tokens),
    matching is case-insensitive term-set, and the shared _merge is
    applied (no-op for whitespace tokens — spans can never touch)."""
    from mecab_ko_lucene_analyzer_spark.query.highlight import (
        whitespace_highlight_spans,
    )

    assert whitespace_highlight_spans("Spark  and data", ["spark", "data"]) == [
        (0, 5),
        (11, 15),
    ]
    assert whitespace_highlight_spans("", ["x"]) == []
    assert whitespace_highlight_spans(None, ["x"]) == []
    assert whitespace_highlight_spans("nothing here", ["spark"]) == []
    # repeated occurrences each get a span
    assert whitespace_highlight_spans("data data", ["data"]) == [(0, 4), (5, 9)]


def test_facets_custom_attrs_match_brute_force(engine, spark):
    """Facet buckets over a custom (doc_id, category) relation equal a
    pure-Python recount: per-doc client-side tokenization decides
    membership in the analyzed-vocabulary bag (synonym terms
    included), then buckets count by doc_id % 3."""
    from mecab_ko_lucene_analyzer_spark.analysis.tokenizer import (
        index_token_stream,
    )
    from mecab_ko_lucene_analyzer_spark.query.ast import ast_terms

    vocab = ast_terms(engine.build_query("검색 엔진"))
    assert "서치" in vocab  # the synonym must be part of the facet bag
    pages = {
        r["url"]: r["text"]
        for r in synthesize_webpages(spark, 150, partitions=4).collect()
    }
    matched = {
        r["doc_id"]
        for r in engine.doc_map.collect()
        if vocab & set(index_token_stream(pages[r["url"]], "standard", 3)[0])
    }
    assert matched
    cats = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("cat"), (F.col("id") % 3).cast("string")).alias("cat"),
    )
    got = engine.facets("검색 엔진", attrs=cats, attr_col="cat", k=10)
    want = {}
    for d in matched:
        want[f"cat{d % 3}"] = want.get(f"cat{d % 3}", 0) + 1
    expect = sorted(
        ({"value": v, "doc_count": c} for v, c in want.items()),
        key=lambda r: (-r["doc_count"], r["value"]),
    )
    assert got == expect


def test_facets_default_host_buckets(engine):
    """Default facet attribute is the doc_map url host: the synthetic
    corpus has one host per doc, so every bucket counts exactly 1 and
    the bucket total is bounded by k."""
    got = engine.facets("검색 엔진", k=7)
    assert 0 < len(got) <= 7
    assert all(b["doc_count"] == 1 for b in got)
    assert all(b["value"].startswith("example-") for b in got)


def test_facets_empty_analysis_returns_no_buckets(engine):
    assert engine.facets("...", k=5) == []


def test_significant_terms_facade(engine):
    """JLH list over the match set: scores descend, the query's own
    analyzed terms are excluded, fg_df <= bg_df always."""
    rows = engine.significant_terms("검색", k=10)
    assert rows
    q_terms = {t["term"] for t in engine.analyze("검색")}
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["term"] not in q_terms
        assert 1 <= r["fg_df"] <= r["bg_df"]
    assert engine.significant_terms("", k=5) == []


def test_search_collapsed_facade(engine):
    """Collapse by host: no host appears more than inner_hits times,
    every kept hit keeps its uncollapsed score, and the groups carry
    the host value."""
    collapsed = engine.search_collapsed("검색 엔진", k=10, inner_hits=1)
    assert collapsed
    hosts = [h["group"] for h in collapsed]
    assert len(hosts) == len(set(hosts))  # inner_hits=1: one per host
    plain = {
        h["doc_id"]: h["score"]
        for h in engine.search("검색 엔진", k=150, conjunctive=False)
    }
    for h in collapsed:
        assert h["score"] == pytest.approx(plain[h["doc_id"]], rel=1e-9)
        assert h["url"].startswith("https://")
    two = engine.search_collapsed("검색 엔진", k=150, inner_hits=2)
    from collections import Counter

    assert max(Counter(h["group"] for h in two).values()) <= 2
    assert engine.search_collapsed("", k=5) == []


def test_percolate_facade(engine):
    """Per-doc percolation through the SAME analysis chain: stored
    queries whose analyzed terms all appear in the doc match; synonym
    expansion does not leak extra required terms."""
    doc = "검색 엔진 문서"
    stored = {0: "검색", 1: "검색 엔진", 2: "없는용어", 3: ""}
    got = engine.percolate(doc, stored)
    assert 0 in got and 1 in got
    assert 2 not in got and 3 not in got


def test_search_wildcard_equals_translated_regexp(engine):
    """Wildcard serving = regexp serving over the translated pattern
    (same expansion walk, same bag scorer, same routing)."""
    got = engine.search_wildcard("검*", k=20)
    want = engine.search_regexp("검.*", k=20)
    assert [(h["doc_id"], h["score"]) for h in got] == [
        (h["doc_id"], h["score"]) for h in want
    ]
    assert got  # non-trivial


def test_suggest_phrase_engine_facade(engine):
    out = engine.suggest_phrase(["검색", "엔징"], max_edits=1)
    assert [o["pos"] for o in out] == [0, 1]
    assert out[0]["suggestion"] == "검색" and out[0]["dist"] == 0
    assert out[1]["suggestion"] == "엔진" and out[1]["dist"] == 1


def test_search_ast_dis_max_json(engine):
    """DisMax serves through the same AST entry point (JSON and
    dataclass), ranks deterministically, and tb=0 equals the Or
    rendering of the same children."""
    from mecab_ko_lucene_analyzer_spark.query.ast import DisMax

    spec = (
        '{"dis_max": [{"term": "검색"}, {"term": "엔진"}],'
        ' "tie_breaker": 0.3}'
    )
    got = engine.search_ast(spec, k=15)
    assert got
    assert got == engine.search_ast(
        DisMax((Term("검색"), Term("엔진")), 0.3), k=15
    )
    dm0 = engine.search_ast(DisMax((Term("검색"), Term("엔진")), 0.0), k=15)
    or_ = engine.search_ast(Or((Term("검색"), Term("엔진"))), k=15)
    assert [(h["doc_id"], h["score"]) for h in dm0] == [
        (h["doc_id"], h["score"]) for h in or_
    ]


def test_engine_aggregate_dispatcher(engine):
    """The ES aggregations-body facade dispatches each named agg to
    the query/aggs implementation over one shared match set."""
    out = engine.aggregate(
        "검색 엔진",
        {
            "hosts": {"terms": {"field": "host", "size": 5}},
            "length": {"stats": {"field": "doc_len"}},
            "bands": {
                "range": {
                    "field": "doc_len",
                    "ranges": [{"to": 50.0}, {"from": 50.0}],
                }
            },
            "nhosts": {"cardinality": {"field": "host"}},
            "present": {"value_count": {"field": "doc_len"}},
            "nohost": {"missing": {"field": "host"}},
            "vocab": {"filters": {"filters": {
                "search": {"terms": ["검색", "서치"]},
                "nothing": {"terms": ["zzzz없는말"]},
            }}},
        },
    )
    # terms == the facets facade, value for value
    assert out["hosts"] == engine.facets("검색 엔진", k=5)
    st = out["length"]
    assert st["count"] > 0 and st["min"] <= st["avg"] <= st["max"]
    assert out["present"] == st["count"]
    # the two half-open bands partition the matched value set
    bands = {b["key"]: b["doc_count"] for b in out["bands"]}
    assert sum(bands.values()) == st["count"]
    assert out["nhosts"] >= 1
    assert out["nohost"] == 0  # every doc has a url host
    assert out["vocab"]["nothing"] == 0 and out["vocab"]["search"] > 0


def test_engine_aggregate_unknown_field_raises(engine):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        engine.aggregate("검색", {"x": {"stats": {"field": "nope"}}})


def test_engine_aggregate_sampler_and_rare_terms(engine):
    """Round-5 kinds: sampler+significant_terms (the scale-bounding
    cut — with shard_size above the match set it equals the plain
    significance list) and rare_terms (exact long-tail)."""
    import pytest as _pytest

    out = engine.aggregate(
        "검색 엔진",
        {
            "sig": {"significant_terms": {"size": 5}},
            "sampled": {
                "sampler": {
                    "shard_size": 10_000,
                    "aggs": {"sig": {"significant_terms": {"size": 5}}},
                }
            },
            "tail": {"rare_terms": {"max_doc_count": 3, "size": 5}},
        },
    )
    assert out["sampled"]["sig"] == out["sig"]
    assert all(b["doc_count"] <= 3 for b in out["tail"])
    pairs = engine.aggregate(
        "검색 엔진",
        {"hl": {"multi_terms": {
            "terms": [{"field": "host"}, {"field": "doc_len"}],
            "size": 5,
        }}},
    )["hl"]
    assert pairs and all(len(b["key"]) == 2 for b in pairs)
    counts = [b["doc_count"] for b in pairs]
    assert counts == sorted(counts, reverse=True)
    with _pytest.raises(ValueError, match="significant_terms sub-agg"):
        engine.aggregate(
            "검색",
            {"s": {"sampler": {"aggs": {"t": {"terms": {"field": "host"}}}}}},
        )
