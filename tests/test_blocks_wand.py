"""M2/M3 tests: compressed block postings, salted merge equivalence,
block-max WAND rank-identity, and resumable builds (FIXTURES.md §F4–F6)."""

import shutil

import pytest

from mecab_ko_lucene_analyzer_spark.analysis.tokenizer import token_records
from mecab_ko_lucene_analyzer_spark.index import build_and_write, build_index
from mecab_ko_lucene_analyzer_spark.index.blocks import build_blocks
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
    postings = materialized.postings
    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    # every term hot with 8-doc salt ranges (so salting GENUINELY splits
    # terms across many salt groups/partitions) vs no term hot
    salted = build_blocks(
        postings, term_stats, corpus["n_docs"], corpus["avgdl"],
        hot_min_df=1, salt_shift=3, num_partitions=48,
    ).collect()
    unsalted = build_blocks(
        postings, term_stats, corpus["n_docs"], corpus["avgdl"], hot_min_df=10**9
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
    """The vectorized exact TAAT path (auto-picked for bounded payloads)
    must rank-match the skipping WAND loop on every fixture query —
    both compute the exact BM25 sum, so docs AND scores agree."""
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    term_stats = spark.read.parquet(f"{BASE}/term_stats")

    def cursors():
        return load_query_cursors(
            blocks_df, term_stats, corpus["n_docs"], corpus["avgdl"], terms
        )

    via_wand = wand_topk(cursors(), k=10, strategy="wand")
    via_taat = wand_topk(cursors(), k=10, strategy="taat")
    assert [d for d, _ in via_taat] == [d for d, _ in via_wand]
    for (_, s1), (_, s2) in zip(via_taat, via_wand):
        assert s1 == pytest.approx(s2, abs=1e-9)


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
    """Bulk retrieval (one Spark job, broadcast blocks) must return the
    SAME ranked lists the serving path's per-query WAND returns."""
    from mecab_ko_lucene_analyzer_spark.query import wand_topk_batch
    from mecab_ko_lucene_analyzer_spark.query.wand import load_query_cursors

    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    batch = [(i, q) for i, q in enumerate(QUERIES)]
    qdf = spark.createDataFrame(batch, "query_id long, terms array<string>")
    got = {}
    for r in wand_topk_batch(blocks_df, qdf, n_docs, avgdl, k=7).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], round(r["score"], 9)))
    for qid, terms in batch:
        cursors = load_query_cursors(blocks_df, term_stats, n_docs, avgdl, terms)
        want = [
            (rank, d, round(s, 9))
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

    term_stats = spark.read.parquet(f"{BASE}/term_stats")
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
                execute_ast(ast, blocks_df, term_stats, n_docs, avgdl, k=7),
                start=1,
            )
        ]
        assert sorted(got.get(qid, [])) == sorted(want), ast


def test_batch_hot_term_routing(spark, materialized, blocks_df, monkeypatch):
    """Batch queries containing a hot term (df above the broadcast
    budget) must route to the distributed scorer: the hot term's
    blocks are NEVER fetched for the broadcast payload, and the
    routed results stay rank-identical to the unrouted run."""
    import mecab_ko_lucene_analyzer_spark.query.batch as batch_mod
    from mecab_ko_lucene_analyzer_spark.query import (
        ast_topk_batch,
        wand_topk_batch,
    )
    from mecab_ko_lucene_analyzer_spark.query.ast import (
        And,
        Phrase,
        Term,
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
    qdf = spark.createDataFrame(bag, "query_id long, terms array<string>")
    unrouted = {
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in wand_topk_batch(blocks_df, qdf, n_docs, avgdl, k=5).collect()
    }
    fetched.clear()
    routed = {
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in wand_topk_batch(
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


def test_vectorized_and_or_identical_to_tree(spark, materialized, blocks_df):
    """The vectorized AND/OR evaluator (serving fast path) must return
    exactly what the cursor-tree walk returns — docs AND bit-identical
    scores (same float addition order) — across conjunctions, synonym
    ORs, and AND-of-OR mixes, including missing-term branches."""
    from mecab_ko_lucene_analyzer_spark.query.ast import And, Or, Term
    from mecab_ko_lucene_analyzer_spark.query.executor import (
        execute_ast_cursors,
    )

    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]
    asts = [
        Term("검색"),
        And((Term("검색"), Term("엔진"))),
        Or((Term("검색"), Term("엔진"), Term("삼성전자"))),
        And((Or((Term("검색"), Term("서치"))), Term("엔진"))),
        And((Term("한국어"), Or((Term("문서"), Term("색인"))), Term("는"))),
        And((Term("없는단어쿼리"), Term("검색"))),
        Or((Term("없는단어쿼리"), Term("검색"))),
    ]
    for ast in asts:
        from mecab_ko_lucene_analyzer_spark.query.ast import ast_terms

        def cursors():
            return {
                c.term: c
                for c in load_query_cursors(
                    blocks_df, term_stats, n_docs, avgdl, sorted(ast_terms(ast))
                )
            }

        tree = execute_ast_cursors(ast, cursors(), k=10, strategy="tree")
        vec = execute_ast_cursors(ast, cursors(), k=10, strategy="vectorized")
        assert vec == tree, ast


def test_direct_block_reader_identical_to_spark_fetch(spark, materialized, blocks_df):
    """The serving cold path (footer-pruned direct Arrow read, zero
    Spark jobs) must return byte-identical block payloads and dfs to
    the pruned Spark scan, and WAND over it must rank identically."""
    from mecab_ko_lucene_analyzer_spark.query.wand import (
        BlockCache,
        DirectBlockReader,
        TermCursor,
        fetch_term_blocks,
        wand_topk,
    )
    from mecab_ko_lucene_analyzer_spark.query.bm25 import lucene_idf

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
        cursors = [
            TermCursor(
                term=t,
                idf=lucene_idf(corpus["n_docs"], df),
                blocks=blks,
                avgdl=corpus["avgdl"],
            )
            for t, (blks, df) in cache.get(terms).items()
        ]
        got = wand_topk(cursors, k=10)
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
    with _pytest.raises(ValueError):
        DirectBlockReader("/tmp/definitely_missing_block_dir_xyz")


def _payloads(fetched):
    """Block payloads per term, order-free (cursors sort by first_doc)."""
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


def test_arrow_blocks_byte_identical_to_pandas(spark, materialized):
    """The Arrow-native pack/reblock stages (the default) must produce
    BYTE-identical block rows to the pandas reference stages — same
    cuts, same varint payloads, same metadata — with salting active
    (salt_shift=3 genuinely splits terms) and without."""
    postings = materialized.postings
    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()
    for kwargs in (
        dict(hot_min_df=1, salt_shift=3, num_partitions=48),
        dict(hot_min_df=10**9),
    ):
        frames = {}
        for impl in ("arrow", "pandas"):
            df = build_blocks(
                postings,
                term_stats,
                n_docs=corpus["n_docs"],
                avgdl=corpus["avgdl"],
                impl=impl,
                **kwargs,
            )
            frames[impl] = sorted(
                (
                    (
                        r["term"],
                        r["first_doc"],
                        r["n_docs"],
                        bytes(r["doc_deltas"]),
                        bytes(r["tfs"]),
                        bytes(r["pos_deltas"]),
                        bytes(r["doc_lens"]),
                        r["block_max_tf"],
                        round(r["block_max_impact"], 12),
                    )
                    for r in df.collect()
                )
            )
            df._partials_df.unpersist()
        assert frames["arrow"] == frames["pandas"]
        assert len(frames["arrow"]) > 0


def test_fused_build_row_identical_to_legacy(spark, materialized, tmp_path):
    """The fused serving build (partials checkpoint, decoded row-postings
    view) and the legacy layout (with_blocks=False materializes the row
    table) must agree row-for-row — postings (incl. position payload
    bytes) and every stats table — over the same corpus."""
    from mecab_ko_lucene_analyzer_spark.index.build import load_index

    pages = synthesize_webpages(spark, N_DOCS, partitions=4)
    legacy = build_and_write(
        pages, f"{tmp_path}/legacy", lang_filter=None, with_blocks=False
    )
    # fresh load: the module fixture's captured stats plans go stale
    # when the resume test rewrites those directories
    fused = load_index(spark, BASE)

    def rows(df, cols, key):
        return sorted(
            (tuple(bytes(v) if isinstance(v, bytearray) else v for v in t)
             for t in df.select(*cols).collect()),
            key=key,
        )

    pcols = ["term", "doc_id", "tf", "positions", "doc_len"]
    a = rows(fused.postings, pcols, lambda t: (t[0], t[1]))
    b = rows(legacy.postings, pcols, lambda t: (t[0], t[1]))
    assert len(a) == len(b) > 0 and a == b
    for attr, cols, key in [
        ("term_stats", ["term", "df"], lambda t: t[0]),
        ("doc_stats", ["doc_id", "doc_len"], lambda t: t[0]),
        ("corpus_stats", ["n_docs", "avgdl"], lambda t: t[0]),
    ]:
        assert rows(getattr(fused, attr), cols, key) == rows(
            getattr(legacy, attr), cols, key
        ), attr


def test_pack_reblock_arrow_equals_pandas(spark, materialized):
    """The Arrow-native pack/reblock stages must be BYTE-identical to
    the pandas reference implementation — same block rows, same varint
    payloads, same impacts — including under aggressive salting."""
    postings = materialized.postings
    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()

    def rows(impl, **kw):
        df = build_blocks(
            postings, term_stats, corpus["n_docs"], corpus["avgdl"],
            impl=impl, **kw,
        )
        out = sorted(
            (tuple(bytes(v) if isinstance(v, bytearray) else v for v in t)
             for t in df.collect()),
            key=lambda t: (t[0], t[1]),
        )
        df._partials_df.unpersist()
        return out

    for kw in ({"hot_min_df": 10**9}, {"hot_min_df": 1, "salt_shift": 3}):
        a = rows("arrow", **kw)
        p = rows("pandas", **kw)
        assert len(a) == len(p) > 0 and a == p, kw


def test_arrow_stages_sliced_emission_identical(spark, materialized, monkeypatch):
    """Forcing a tiny per-batch byte budget (the 2 GiB int32-offset
    guard path) through the Arrow pack/reblock stages must change
    NOTHING about the output rows — multi-slice emission is purely a
    batch-boundary concern."""
    import mecab_ko_lucene_analyzer_spark.index.blocks as blocks_mod

    postings = materialized.postings
    term_stats = spark.read.parquet(f"{BASE}/term_stats")
    corpus = spark.read.parquet(f"{BASE}/corpus_stats").first()

    def rows():
        df = build_blocks(
            postings, term_stats, corpus["n_docs"], corpus["avgdl"],
            impl="arrow", hot_min_df=1, salt_shift=3,
        )
        out = sorted(
            (tuple(bytes(v) if isinstance(v, bytearray) else v for v in t)
             for t in df.collect()),
            key=lambda t: (t[0], t[1]),
        )
        df._partials_df.unpersist()
        return out

    baseline = rows()
    orig = blocks_mod._binary_row_slices

    def tiny_budget(bounds_cols, n_rows, max_bytes=1 << 30):
        return orig(bounds_cols, n_rows, max_bytes=64)

    monkeypatch.setattr(blocks_mod, "_binary_row_slices", tiny_budget)
    sliced = rows()
    assert len(sliced) == len(baseline) > 0
    assert sliced == baseline


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
