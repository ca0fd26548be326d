"""M2/M3 tests: compressed block postings, salted merge equivalence,
rank identity of the driver bag top-k (its MaxScore step over the
block-max impacts), and resumable builds (FIXTURES.md §F4–F6)."""

import shutil

import pytest

from mecab_ko_lucene_analyzer_spark.analysis.tokenizer import token_records
from mecab_ko_lucene_analyzer_spark.index import build_and_write
from mecab_ko_lucene_analyzer_spark.index.blocks import build_blocks_from_partials
from mecab_ko_lucene_analyzer_spark.index.codec import decode_block, decode_varints
from mecab_ko_lucene_analyzer_spark.query import bm25_oracle
from mecab_ko_lucene_analyzer_spark.query.wand import load_query_cursors, wand_topk
from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

N_DOCS = 120
BASE = "/tmp/test_index_blocks"


@pytest.fixture(scope="module")
def materialized(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    pages = synthesize_webpages(spark, N_DOCS, partitions=5)
    index = build_and_write(
        pages, BASE, lang_filter=None, with_blocks=True, hot_min_df=30
    )
    return index


@pytest.fixture(scope="module")
def blocks_df(spark, materialized):
    return spark.read.parquet(f"{BASE}/blocks").cache()


def _decode_all(blocks_rows):
    """blocks rows (one term) → flat (docs, tfs) lists in first_doc order."""
    docs, tfs = [], []
    for r in sorted(blocks_rows, key=lambda r: r["first_doc"]):
        d, t, _ = decode_block(bytes(r["doc_deltas"]), bytes(r["tfs"]), b"")
        docs.extend(int(x) for x in d)
        tfs.extend(int(x) for x in t)
    return docs, tfs


def test_blocks_roundtrip_equals_row_postings(spark, materialized, blocks_df):
    rows = materialized.postings.collect()  # decoded view over partials
    expected = {}
    for r in rows:
        expected.setdefault(r["term"], []).append((r["doc_id"], r["tf"]))
    for term_rows in expected.values():
        term_rows.sort()
    got_rows = blocks_df.collect()
    by_term = {}
    for r in got_rows:
        by_term.setdefault(r["term"], []).append(r)
    assert set(by_term) == set(expected)
    for term, brs in by_term.items():
        docs, tfs = _decode_all(brs)
        assert docs == [d for d, _ in expected[term]], term
        assert tfs == [t for _, t in expected[term]], term
        assert docs == sorted(docs), f"{term}: doc order broken"


def test_salted_merge_same_as_unsalted(spark, materialized):
    partials = spark.read.parquet(f"{BASE}/partials")
    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    # every term hot with 8-doc salt ranges (so salting GENUINELY splits
    # terms across many salt groups/partitions) vs no term hot
    salted = build_blocks_from_partials(
        partials, term_stats, corpus["n_docs"], corpus["avgdl"],
        hot_min_df=1, salt_shift=3, num_partitions=48,
    ).collect()
    unsalted = build_blocks_from_partials(
        partials, term_stats, corpus["n_docs"], corpus["avgdl"], hot_min_df=10**9
    ).collect()
    # hot terms really get split across partitions (block runs start at
    # partition edges → >1 block for a ≤128-doc list proves the salted
    # cross-partition concatenation path actually ran)
    import collections

    per_term = collections.Counter(r["term"] for r in salted)
    assert max(per_term.values()) > 1

    def flat(rows):
        by_term = {}
        for r in rows:
            by_term.setdefault(r["term"], []).append(r)
        return {t: _decode_all(rs) for t, rs in by_term.items()}

    assert flat(salted) == flat(unsalted)


def test_doc_lens_consistent(spark, blocks_df):
    doc_len = {
        r["doc_id"]: r["doc_len"]
        for r in spark.read.parquet(f"{BASE}/doc_stats").collect()
    }
    for r in blocks_df.limit(100).collect():
        docs, _, _ = decode_block(bytes(r["doc_deltas"]), bytes(r["tfs"]), b"")
        dls = decode_varints(bytes(r["doc_lens"]))
        for d, dl in zip(docs, dls):
            assert doc_len[int(d)] == int(dl)


QUERIES = [
    ["검색", "엔진"],
    ["삼성전자"],
    ["한국어", "문서", "색인"],
    ["spark", "index"],
    ["데이터", "처리", "시스템", "웹페이지"],
    ["는"],  # hot josa term (salted path)
    ["없는단어쿼리"],
]


@pytest.mark.parametrize("terms", QUERIES, ids=["+".join(q) for q in QUERIES])
def test_wand_rank_identical_to_oracle(spark, materialized, blocks_df, terms):
    # oracle over the actual tokenized corpus (recompute on driver)
    pages = synthesize_webpages(spark, N_DOCS, partitions=5)
    rows = sorted(pages.select("url", "text").collect(), key=lambda r: r["url"])
    token_lists = {
        i: [t["term"] for t in token_records(r["text"])] for i, r in enumerate(rows)
    }
    expected = bm25_oracle(token_lists, terms, k=10)

    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    cursors = load_query_cursors(
        blocks_df,
        spark.read.parquet(f"{BASE}/term_stats"),
        corpus["n_docs"],
        corpus["avgdl"],
        terms,
    )
    got = wand_topk(cursors, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, s1), (_, s2) in zip(got, expected):
        assert s1 == pytest.approx(s2, abs=1e-9)


@pytest.mark.parametrize("terms", QUERIES, ids=["+".join(q) for q in QUERIES])
def test_taat_rank_identical_to_wand(spark, materialized, blocks_df, terms):
    """The bag top-k that skips (``wand_topk``'s MaxScore step over the
    built block-max impacts) must give the bits of the bag's full
    term-at-a-time evaluation on every fixture query, at every k up to
    beyond the match count — docs AND score bits agree."""
    from mecab_ko_lucene_analyzer_spark.query.ast import bag_ast
    from mecab_ko_lucene_analyzer_spark.query.executor import _evaluate, _top_k

    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    bound, avgdl = load_query_cursors(
        blocks_df, term_stats, corpus["n_docs"], corpus["avgdl"], terms
    )
    full = _top_k(*_evaluate(bag_ast(terms), bound, avgdl), N_DOCS)
    for k in (1, 3, 10, len(full), len(full) + 1):
        got = wand_topk((bound, avgdl), k=k)
        assert [(d, s.hex()) for d, s in got] == [(d, s.hex()) for d, s in full[:k]]


def test_resume_skips_completed_stages(spark, materialized):
    import json

    with open(f"{BASE}/manifest.json") as f:
        m1 = json.load(f)
    assert set(m1["stages"]) == {"partials", "stats", "blocks"}
    assert m1["stages"]["partials"]["counters"]["docs_tokenized"] == N_DOCS

    # drop the stats outputs → only that stage reruns
    shutil.rmtree(f"{BASE}/term_stats")
    del m1["stages"]["stats"]
    with open(f"{BASE}/manifest.json", "w") as f:
        json.dump(m1, f)
    before = spark.read.parquet(f"{BASE}/partials").count()
    pages = synthesize_webpages(spark, N_DOCS, partitions=3)
    build_and_write(pages, BASE, lang_filter=None, with_blocks=True, hot_min_df=30)
    with open(f"{BASE}/manifest.json") as f:
        m2 = json.load(f)
    assert m2["stages"]["stats"]["status"] == "complete"
    # partials untouched (same row count, stage not re-run)
    assert spark.read.parquet(f"{BASE}/partials").count() == before
    assert m2["stages"]["partials"] == m1["stages"]["partials"]


def test_batch_wand_rank_identical_to_serving(spark, materialized, blocks_df):
    """Bulk retrieval of disjunctive bags (one Spark job, broadcast
    blocks, each bag sent as its ``Sum`` AST) must return the SAME
    ranked lists the serving path's per-query bag top-k returns."""
    from mecab_ko_lucene_analyzer_spark.query import ast_topk_batch
    from mecab_ko_lucene_analyzer_spark.query.ast import bag_ast, to_json
    from mecab_ko_lucene_analyzer_spark.query.wand import load_query_cursors

    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    batch = [(i, q) for i, q in enumerate(QUERIES)]
    qdf = spark.createDataFrame(
        [(i, to_json(bag_ast(q))) for i, q in batch], "query_id long, query_json string"
    )
    got = {}
    for r in ast_topk_batch(blocks_df, qdf, n_docs, avgdl, k=7).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, terms in batch:
        cursors = load_query_cursors(blocks_df, term_stats, n_docs, avgdl, terms)
        want = [
            (rank, d, s)
            for rank, (d, s) in enumerate(wand_topk(cursors, 7), start=1)
        ]
        assert sorted(got.get(qid, [])) == sorted(want), terms


def test_ast_batch_rank_identical_to_serving(spark, materialized, blocks_df):
    """Full-AST bulk retrieval (the reference's real query shape:
    AND terms + synonym OR + boost-0 phrase) must rank-match the
    serving path's per-query ``execute_ast`` — including the
    positional phrase filter through the broadcast payload."""
    from mecab_ko_lucene_analyzer_spark.query import ast_topk_batch
    from mecab_ko_lucene_analyzer_spark.query.ast import (
        And,
        Or,
        Phrase,
        Term,
        to_json,
    )
    from mecab_ko_lucene_analyzer_spark.query.executor import execute_ast

    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    asts = [
        Term("검색"),
        And((Term("검색"), Term("엔진"))),
        Or((Term("삼성전자"), Term("웹페이지"))),
        Phrase(("검색", "엔진")),
        # the DanawaSearchQueryBuilder shape: AND terms + phrase(boost 0)
        And((Term("검색"), Term("엔진"), Phrase(("검색", "엔진")))),
        And((Or((Term("한국어"), Term("문서"))), Term("색인"))),
        Phrase(("한국어", "색인"), slop=2),
        And((Term("없는단어쿼리"), Term("검색"))),  # empty AND branch
    ]
    batch = [(i, to_json(a)) for i, a in enumerate(asts)]
    qdf = spark.createDataFrame(batch, "query_id long, query_json string")
    got = {}
    for r in ast_topk_batch(blocks_df, qdf, n_docs, avgdl, k=7).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9))
        )
    for qid, ast in enumerate(asts):
        want = [
            (rank, d, round(s, 9))
            for rank, (d, s) in enumerate(
                execute_ast(ast, blocks_df, n_docs, avgdl, k=7),
                start=1,
            )
        ]
        assert sorted(got.get(qid, [])) == sorted(want), ast


def test_bulk_task_decodes_a_shared_term_once(spark, materialized, blocks_df, monkeypatch):
    """One bulk task binds each broadcast term to one ``TermPostings``:
    queries that share a term, spread over two pandas batches of the
    task, decode it once, and each query ranks as the serving
    evaluator ranks it."""
    import pandas as pd

    from mecab_ko_lucene_analyzer_spark.query.ast import And, Term, bag_ast, to_json
    from mecab_ko_lucene_analyzer_spark.query.batch import _score_queries
    from mecab_ko_lucene_analyzer_spark.query.executor import execute_ast
    from mecab_ko_lucene_analyzer_spark.query.wand import TermPostings, fetch_term_blocks

    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    asts = [
        bag_ast(["검색", "엔진"]),
        And((Term("검색"), Term("데이터"))),
        Term("검색"),
        bag_ast(["검색", "문서", "없는단어쿼리"]),
    ]
    payload = fetch_term_blocks(blocks_df, ["검색", "데이터", "문서", "엔진"])
    decoded = []
    real = TermPostings.decode

    def counted(self):
        if self.docs is None:
            decoded.append(id(self))
        return real(self)

    monkeypatch.setattr(TermPostings, "decode", counted)
    frames = [
        pd.DataFrame({"query_id": ids, "query_json": [to_json(asts[i]) for i in ids]})
        for ids in ([0, 1], [2, 3])
    ]
    out = pd.concat(list(_score_queries(iter(frames), payload, n_docs, avgdl, 7)))
    assert len(decoded) == len(set(decoded)) == len(payload) == 4
    for qid, ast in enumerate(asts):
        rows = out[out["query_id"] == qid].sort_values("rank")
        want = execute_ast(ast, blocks_df, n_docs, avgdl, k=7)
        assert list(zip(rows["doc_id"], rows["score"])) == want, ast
        assert rows["rank"].tolist() == list(range(1, len(want) + 1))


def test_batch_hot_term_routing(spark, materialized, blocks_df, monkeypatch):
    """Batch queries containing a hot term (df above the broadcast
    budget) must route to the distributed scorer: the hot term's
    blocks are NEVER fetched for the broadcast payload, and the
    routed results stay rank-identical to the unrouted run."""
    import mecab_ko_lucene_analyzer_spark.query.batch as batch_mod
    from mecab_ko_lucene_analyzer_spark.query import ast_topk_batch
    from mecab_ko_lucene_analyzer_spark.query.ast import (
        And,
        Phrase,
        Term,
        bag_ast,
        to_json,
    )

    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    hot_df = max(r["df"] for r in term_stats.collect())  # '는'-class term
    budget = hot_df - 1
    hot_terms = {r["term"] for r in term_stats.collect() if r["df"] > budget}
    assert hot_terms  # the fixture has at least one josa-class term

    fetched: list[str] = []
    real_fetch = batch_mod.fetch_term_blocks

    def spy_fetch(blocks, terms, with_positions=False):
        fetched.extend(terms)
        return real_fetch(blocks, terms, with_positions)

    monkeypatch.setattr(batch_mod, "fetch_term_blocks", spy_fetch)

    hot_term = sorted(hot_terms)[0]
    bag = [(0, ["검색", "엔진"]), (1, [hot_term, "검색"])]
    qdf = spark.createDataFrame(
        [(i, to_json(bag_ast(q))) for i, q in bag], "query_id long, query_json string"
    )
    unrouted = {
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in ast_topk_batch(blocks_df, qdf, n_docs, avgdl, k=5).collect()
    }
    fetched.clear()
    routed = {
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in ast_topk_batch(
            blocks_df, qdf, n_docs, avgdl, k=5,
            term_stats=term_stats, max_broadcast_df=budget,
        ).collect()
    }
    assert routed == unrouted
    assert not (set(fetched) & hot_terms)

    asts = [
        (0, to_json(And((Term("검색"), Term("엔진"))))),
        (1, to_json(And((Term(hot_term), Term("검색"))))),
        # hot term inside a top-level phrase: routes via the
        # distributed phrase filter (r4: phrase_match_docs)
        (2, to_json(Phrase((hot_term, "검색")))),
    ]
    adf = spark.createDataFrame(asts, "query_id long, query_json string")
    unrouted = {
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in ast_topk_batch(blocks_df, adf, n_docs, avgdl, k=5).collect()
    }
    fetched.clear()
    routed = {
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in ast_topk_batch(
            blocks_df, adf, n_docs, avgdl, k=5,
            term_stats=term_stats, max_broadcast_df=budget,
        ).collect()
    }
    assert routed == unrouted
    assert not (set(fetched) & hot_terms)


def test_and_or_evaluator_matches_oracle(spark, materialized, blocks_df):
    """The AST evaluator (the serving path for every AST) must return
    exactly what the pure-Python scoring spec over the tokenized corpus
    returns — docs AND bit-identical scores (same float addition
    order) — across conjunctions, synonym ORs, DisMax groups and
    AND-of-OR mixes, including missing-term branches."""
    from ast_reference import ast_oracle, postings_from_tokens

    from mecab_ko_lucene_analyzer_spark.query.ast import And, DisMax, Or, Term
    from mecab_ko_lucene_analyzer_spark.query.executor import count_ast, execute_ast

    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    pages = synthesize_webpages(spark, N_DOCS, partitions=5)
    rows = sorted(pages.select("url", "text").collect(), key=lambda r: r["url"])
    postings, doc_lens = postings_from_tokens(
        {i: token_records(r["text"]) for i, r in enumerate(rows)}
    )
    asts = [
        Term("검색"),
        And((Term("검색"), Term("엔진"))),
        Or((Term("검색"), Term("엔진"), Term("삼성전자"))),
        And((Or((Term("검색"), Term("서치"))), Term("엔진"))),
        And((Term("한국어"), Or((Term("문서"), Term("색인"))), Term("는"))),
        And((DisMax((Term("문서"), Term("색인")), 0.3), Term("데이터"))),
        And((Term("없는단어쿼리"), Term("검색"))),
        Or((Term("없는단어쿼리"), Term("검색"))),
    ]
    for ast in asts:
        want = ast_oracle(ast, postings, doc_lens, n_docs, avgdl)
        assert execute_ast(ast, blocks_df, n_docs, avgdl, k=10) == want[:10], ast
        assert count_ast(ast, blocks_df, n_docs, avgdl) == len(want), ast


def test_direct_block_reader_identical_to_spark_fetch(spark, materialized, blocks_df):
    """The serving cold path (footer-pruned direct Arrow read, zero
    Spark jobs) must return byte-identical block payloads and dfs to
    the pruned Spark scan, and the bag top-k over it must rank
    identically."""
    from mecab_ko_lucene_analyzer_spark.query.wand import (
        BlockCache,
        DirectBlockReader,
        fetch_term_blocks,
        wand_topk,
    )

    direct = DirectBlockReader(f"{BASE}/blocks")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    for terms in QUERIES:
        a = fetch_term_blocks(blocks_df, terms)
        b = direct.fetch(terms)
        assert set(a) == set(b), terms
        for t in a:
            blks_a, df_a = a[t]
            blks_b, df_b = b[t]
            assert df_a == df_b
            key = lambda blk: blk.first_doc
            for x, y in zip(sorted(blks_a, key=key), sorted(blks_b, key=key)):
                assert (
                    x.first_doc == y.first_doc
                    and x.doc_deltas == y.doc_deltas
                    and x.tfs == y.tfs
                    and x.doc_lens == y.doc_lens
                    and x.max_impact == y.max_impact
                )
        # rank identity through a direct-backed cache
        cache = BlockCache(blocks_df, direct=direct)
        got = wand_topk(
            load_query_cursors(
                blocks_df, None, corpus["n_docs"], corpus["avgdl"], terms, cache=cache
            ),
            k=10,
        )
        want_cursors = load_query_cursors(
            blocks_df,
            None,
            corpus["n_docs"],
            corpus["avgdl"],
            terms,
        )
        want = wand_topk(want_cursors, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], terms


def test_direct_block_reader_positions_and_errors(spark, materialized):
    from mecab_ko_lucene_analyzer_spark.query.wand import DirectBlockReader

    import pytest as _pytest

    direct = DirectBlockReader(f"{BASE}/blocks")
    withpos = direct.fetch(["데이터"], with_positions=True)
    assert withpos and all(
        blk.pos_deltas for blks, _ in withpos.values() for blk in blks
    )
    assert direct.fetch(["없는단어쿼리"]) == {}
    assert direct.fetch([]) == {}
    with _pytest.raises(FileNotFoundError):
        DirectBlockReader("/tmp/definitely_missing_block_dir_xyz")


def _payloads(fetched):
    """Block payloads per term, order-free (entries sort by first_doc)."""
    return {
        t: (df, sorted(
            (b.first_doc, b.doc_deltas, b.tfs, b.doc_lens, b.max_impact, b.pos_deltas)
            for b in blks
        ))
        for t, (blks, df) in fetched.items()
    }


def test_direct_block_reader_decodes_each_row_group_once(spark, materialized):
    """A row group decodes on its first miss; later misses in it are
    answered from memory with no file read, and a byte budget too small
    for two row groups keeps one and still answers exactly."""
    from mecab_ko_lucene_analyzer_spark.query.wand import DirectBlockReader

    vocab = sorted(
        r["term"]
        for r in spark.read.parquet(f"{BASE}/blocks").select("term").distinct().collect()
    )
    direct = DirectBlockReader(f"{BASE}/blocks")
    reads = []
    for pf, _ in direct._files:
        read = pf.read_row_groups
        pf.read_row_groups = lambda *a, _read=read, **kw: reads.append(a) or _read(*a, **kw)
    n_row_groups = sum(len(ranges) for _, ranges in direct._files)
    first = direct.fetch(vocab)
    assert len(first) == len(vocab) and len(reads) == n_row_groups
    assert direct.fetch(vocab[::-3]) == {t: first[t] for t in vocab[::-3]}
    assert len(reads) == n_row_groups
    direct.fetch(vocab, with_positions=True)  # other columns: decoded once more
    assert len(reads) == 2 * n_row_groups

    small = DirectBlockReader(f"{BASE}/blocks")
    small.cache_bytes = 1
    assert _payloads(small.fetch(vocab)) == _payloads(first)
    assert len(small._rg_cache) == 1


def test_direct_block_reader_unsorted_files(spark, materialized, tmp_path):
    """Block files of a foreign writer — rows shuffled across two files
    of small row groups — answer exactly what the term-sorted files do."""
    import random

    import pyarrow.parquet as pq

    from mecab_ko_lucene_analyzer_spark.query.wand import DirectBlockReader

    tbl = pq.read_table(f"{BASE}/blocks")
    order = list(range(tbl.num_rows))
    random.Random(3).shuffle(order)
    tbl = tbl.take(order)
    half = tbl.num_rows // 2
    (tmp_path / "blocks").mkdir()
    pq.write_table(tbl.slice(0, half), tmp_path / "blocks/part-0.parquet", row_group_size=50)
    pq.write_table(tbl.slice(half), tmp_path / "blocks/part-1.parquet", row_group_size=50)
    vocab = sorted(set(tbl.column("term").to_pylist()))
    probe = vocab[::7] + [vocab[-1], "없는단어쿼리"]
    for pos in (False, True):
        got = DirectBlockReader(str(tmp_path / "blocks")).fetch(probe, with_positions=pos)
        want = DirectBlockReader(f"{BASE}/blocks").fetch(probe, with_positions=pos)
        assert _payloads(got) == _payloads(want) and len(got) == len(probe) - 1


def _sorted_rows(df):
    return sorted(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in t)
        for t in df.collect()
    )


def _pack_rows(materialized):
    """Partial rows packed by the Arrow and by the pandas reference
    pack stage from the same doc-sorted postings, plus that input."""
    from block_reference import _pack_stage

    from mecab_ko_lucene_analyzer_spark.index.blocks import (
        PARTIAL_SCHEMA,
        _pack_stage_arrow,
    )
    from mecab_ko_lucene_analyzer_spark.index.codec import BLOCK_SIZE

    postings = (
        materialized.postings.repartitionByRange(4, "doc_id")
        .sortWithinPartitions("doc_id")
        .persist()
    )
    arrow = postings.mapInArrow(_pack_stage_arrow, PARTIAL_SCHEMA)
    pandas = postings.mapInPandas(
        _pack_stage(frozenset(), 0, BLOCK_SIZE), PARTIAL_SCHEMA
    )
    return arrow, pandas, postings


def _reblock_rows(spark, partials, **kw):
    """Sorted block rows re-blocked by the Arrow and by the pandas
    reference stage from the same arranged partials."""
    from block_reference import _reblock_stage

    from mecab_ko_lucene_analyzer_spark.index.blocks import (
        BLOCKS_SCHEMA,
        SALT_SHIFT,
        _arrange,
        _reblock_stage_arrow,
    )
    from mecab_ko_lucene_analyzer_spark.index.build import B, K1
    from mecab_ko_lucene_analyzer_spark.index.codec import BLOCK_SIZE

    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    arranged = _arrange(
        partials, term_stats, corpus["n_docs"], kw.get("num_partitions"),
        kw["hot_min_df"], kw.get("salt_shift", SALT_SHIFT),
    ).persist()
    try:
        a = _sorted_rows(
            arranged.mapInArrow(_reblock_stage_arrow(corpus["avgdl"]), BLOCKS_SCHEMA)
        )
        p = _sorted_rows(
            arranged.mapInPandas(
                _reblock_stage(corpus["avgdl"], K1, B, BLOCK_SIZE), BLOCKS_SCHEMA
            )
        )
    finally:
        arranged.unpersist()
    return a, p


def test_arrow_blocks_byte_identical_to_pandas(spark, materialized):
    """The Arrow-native reblock stage must produce BYTE-identical block
    rows to the pandas reference stage over the same arranged partials
    — same cuts, same varint payloads, same metadata and exactly equal
    impacts — unsalted and salted over 48 partitions."""
    partials = spark.read.parquet(f"{BASE}/partials")
    for kw in (
        {"hot_min_df": 10**9},
        {"hot_min_df": 1, "salt_shift": 3, "num_partitions": 48},
    ):
        a, p = _reblock_rows(spark, partials, **kw)
        assert len(a) == len(p) > 0 and a == p, kw


def test_pack_reblock_arrow_equals_pandas(spark, materialized):
    """The Arrow-native pack stage must be BYTE-identical to the pandas
    reference pack over the same doc-sorted postings, and re-blocking
    those partials must match the pandas reblock too — including under
    aggressive salting (salt_shift=3 genuinely splits terms)."""
    arrow, pandas, postings = _pack_rows(materialized)
    try:
        a, p = _sorted_rows(arrow), _sorted_rows(pandas)
        assert len(a) == len(p) > 0 and a == p
        for kw in ({"hot_min_df": 10**9}, {"hot_min_df": 1, "salt_shift": 3}):
            a, p = _reblock_rows(spark, arrow, **kw)
            assert len(a) == len(p) > 0 and a == p, kw
    finally:
        postings.unpersist()


def test_no_blocks_build_row_identical_to_blocks_build(
    spark, materialized, tmp_path
):
    """``with_blocks=False`` runs the same pipeline minus the blocks
    sink: it writes partials, the stats tables and doc_map — and no
    ``postings`` or ``blocks`` directory — and every table, plus the
    decoded ``load_index(...).postings`` view (incl. position payload
    bytes), equals the ``with_blocks=True`` build's row for row."""
    import json
    import os

    from mecab_ko_lucene_analyzer_spark.index.build import load_index

    # the fixture's corpus and partitioning: partials are per tokenize
    # partition, so only the same input split gives the same rows
    pages = synthesize_webpages(spark, N_DOCS, partitions=5)
    base = f"{tmp_path}/no_blocks"
    build_and_write(pages, base, lang_filter=None, with_blocks=False)
    for t in ("partials", "term_stats", "doc_stats", "corpus_stats", "doc_map"):
        assert os.path.exists(f"{base}/{t}/_SUCCESS"), t
    assert not os.path.exists(f"{base}/postings")
    assert not os.path.exists(f"{base}/blocks")
    with open(f"{base}/manifest.json") as f:
        assert set(json.load(f)["stages"]) == {"partials", "stats"}

    def rows(df, key=lambda t: t):
        return sorted(
            (tuple(bytes(v) if isinstance(v, bytearray) else v for v in t)
             for t in df.collect()),
            key=key,
        )

    for t in ("partials", "term_stats", "doc_stats", "corpus_stats", "doc_map"):
        a = rows(spark.read.parquet(f"{base}/{t}"), key=repr)
        b = rows(spark.read.parquet(f"{BASE}/{t}"), key=repr)
        assert len(a) == len(b) > 0 and a == b, t
    # fresh load of the module fixture: its captured stats plans go
    # stale when the resume test rewrites those directories
    pcols = ["term", "doc_id", "tf", "positions", "doc_len"]
    a = rows(load_index(spark, base).postings.select(*pcols))
    b = rows(load_index(spark, BASE).postings.select(*pcols))
    assert len(a) == len(b) > 0 and a == b


def test_arrow_stages_sliced_emission_identical(spark, materialized, monkeypatch):
    """Forcing a tiny per-batch byte budget (the 2 GiB int32-offset
    guard path) through every Arrow emitter — the tokenize pass's
    partials and the blocks re-block — must change NOTHING about the
    output rows: multi-slice emission is purely a batch-boundary
    concern. An accumulator proves the budget engaged on the workers."""
    from pyspark import cloudpickle

    import mecab_ko_lucene_analyzer_spark.index.blocks as blocks_mod
    from mecab_ko_lucene_analyzer_spark.index.build import corpus_partials

    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()

    def emitted_partials():
        partials, _, _, _, release = corpus_partials(
            synthesize_webpages(spark, N_DOCS, partitions=5), lang_filter=None
        )
        try:
            return _sorted_rows(partials)
        finally:
            release()

    def blocks():
        return _sorted_rows(
            build_blocks_from_partials(
                spark.read.parquet(f"{BASE}/partials"), term_stats,
                corpus["n_docs"], corpus["avgdl"], hot_min_df=1, salt_shift=3,
            )
        )

    baseline = [emitted_partials(), blocks()]
    extra_slices = spark.sparkContext.accumulator(0)
    orig = blocks_mod._binary_row_slices

    def tiny_budget(bounds_cols, n_rows, max_bytes=1 << 30):
        slices = list(orig(bounds_cols, n_rows, max_bytes=64))
        extra_slices.add(len(slices) - 1)
        return iter(slices)

    monkeypatch.setattr(blocks_mod, "_binary_row_slices", tiny_budget)
    # ship the block module by value, so the workers run the patched
    # slicer instead of re-importing the module
    cloudpickle.register_pickle_by_value(blocks_mod)
    try:
        for rows, want in zip((emitted_partials, blocks), baseline):
            before = extra_slices.value
            got = rows()
            assert extra_slices.value > before  # the budget engaged
            assert len(got) == len(want) > 0
            assert got == want
    finally:
        cloudpickle.unregister_pickle_by_value(blocks_mod)


def test_partials_from_tokens_equals_catalyst_postings(spark):
    """``partials_from_tokens`` decodes to exactly the postings of the
    Catalyst chain it replaced (groupBy + collect_list + a positions
    UDF + a doc_len join), over a whitespace corpus with an empty doc,
    terms repeated within a doc and a term in more than 128 docs. The
    raw partial rows may split differently (the range bounds are
    sampled); the decoded rows may not differ."""
    import pyspark.sql.functions as F
    from block_reference import postings_from_tokens_reference

    from mecab_ko_lucene_analyzer_spark.index.build import (
        partials_from_tokens,
        postings_from_partials,
    )

    base = 2**33
    texts = [""] + [
        " ".join(["common", *[f"w{i % 7}"] * (1 + i % 3), f"x{i % 13}", "common"])
        for i in range(1, 300)
    ]
    docs = spark.createDataFrame(
        [(base + i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(3)
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("position", "term"),
    )
    got = _sorted_rows(postings_from_partials(partials_from_tokens(toks)))
    want = _sorted_rows(postings_from_tokens_reference(toks))
    assert len(got) == len(want) > 0 and got == want
    assert base not in {r[1] for r in got}  # the empty doc has no posting
    common = [r for r in got if r[0] == "common"]
    assert len(common) > 128 and {r[2] for r in common} == {2}
    assert {r[2] for r in got if r[0].startswith("w")} == {1, 2, 3}


def test_blocks_params_change_invalidates_manifest(spark, tmp_path):
    """Rerunning build_and_write with different salting parameters must
    re-execute the stages, not silently serve the old blocks — the
    manifest fingerprint includes (with_blocks, hot_min_df,
    salt_shift)."""
    import glob
    import json
    import os

    base = str(tmp_path / "idx")
    pages = synthesize_webpages(spark, 40, partitions=2)
    build_and_write(pages, base, lang_filter=None, with_blocks=True,
                    hot_min_df=10**9)
    with open(f"{base}/manifest.json") as f:
        assert json.load(f)["config"]["hot_min_df"] == 10**9
    mt = {f: os.path.getmtime(f) for f in glob.glob(f"{base}/blocks/*")}

    # same params → all stages skipped, nothing rewritten
    build_and_write(pages, base, lang_filter=None, with_blocks=True,
                    hot_min_df=10**9)
    assert {f: os.path.getmtime(f) for f in glob.glob(f"{base}/blocks/*")} == mt

    # different salting → fresh manifest, blocks rewritten
    build_and_write(pages, base, lang_filter=None, with_blocks=True,
                    hot_min_df=1, salt_shift=3)
    with open(f"{base}/manifest.json") as f:
        m2 = json.load(f)
    assert m2["config"]["hot_min_df"] == 1 and m2["config"]["salt_shift"] == 3
    assert {f: os.path.getmtime(f) for f in glob.glob(f"{base}/blocks/*")} != mt


def test_hot_terms_skip_the_job_when_no_term_can_be_hot(spark, spark_jobs):
    """``df <= n_docs``, so a hot threshold above ``n_docs`` salts
    nothing: building blocks issues no Spark job before the blocks
    action. A reachable threshold still collects exactly the terms at
    or above it, ``n_docs`` itself included."""
    import pyspark.sql.functions as F

    from mecab_ko_lucene_analyzer_spark.index.blocks import HOT_SHARE, _hot_terms
    from mecab_ko_lucene_analyzer_spark.index.build import (
        _stats_from_partials,
        partials_from_tokens,
    )

    texts = [f"공통 짝{i % 2} 다섯{i % 5} 열{i % 10} 문서{i}" for i in range(50)]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("position", "term")
    )
    partials = partials_from_tokens(toks).persist()
    term_stats = _stats_from_partials(partials)[0].persist()
    try:
        dfs = {r["term"]: r["df"] for r in term_stats.collect()}
        built = []
        jobs = spark_jobs(
            lambda: built.append(
                build_blocks_from_partials(partials, term_stats, 50, 5.0, hot_min_df=10**9)
            ),
        )
        assert jobs == 0
        assert sorted(r["term"] for r in built[0].select("term").collect()) == sorted(dfs)
        assert spark_jobs(lambda: _hot_terms(term_stats, 50, 51)) == 0
        assert _hot_terms(term_stats, 50, 51) == []
        for min_df in (1, 5, 10, 25, 50):
            thresh = max(int(50 * HOT_SHARE), min_df)
            want = sorted(t for t, df in dfs.items() if df >= thresh)
            assert sorted(_hot_terms(term_stats, 50, min_df)) == want, min_df
        assert _hot_terms(term_stats, 50, 50) == ["공통"]
    finally:
        term_stats.unpersist()
        partials.unpersist()
