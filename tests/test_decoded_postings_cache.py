"""The serving cache's decoded postings: a warm search decodes nothing,
the cache stays inside its byte budget, warm and cold engines answer
bit for bit alike, and an entry over raw blocks decodes to the
postings it was built from."""

import random
import shutil

import numpy as np
import pytest

from mecab_ko_lucene_analyzer_spark.analysis.dictionary import (
    AnalyzerOption,
    SynonymDictionary,
)
from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
from mecab_ko_lucene_analyzer_spark.index import build_and_write
from mecab_ko_lucene_analyzer_spark.index.codec import encode_block, encode_varints
from mecab_ko_lucene_analyzer_spark.query import wand as wand_mod
from mecab_ko_lucene_analyzer_spark.query.ast import And, Or, Phrase, Term
from mecab_ko_lucene_analyzer_spark.query.bm25 import lucene_idf
from mecab_ko_lucene_analyzer_spark.query.executor import _execute_bound
from mecab_ko_lucene_analyzer_spark.query.wand import (
    BlockCache,
    DirectBlockReader,
    TermPostings,
    _Block,
    load_query_cursors,
    load_query_postings,
    wand_topk,
)
from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages
from mecab_ko_lucene_analyzer_spark.sources.webpages import _HOT_NOUNS

BASE = "/tmp/test_decoded_postings_cache"
K1, B = 1.2, 0.75

#: (text, conjunctive): AND, a disjunctive bag (its top-k takes the
#: MaxScore step), a disjunctive synonym query, single terms, and a
#: synonym-OR group (the option below maps 검색 to 엔진)
SEARCHES = [
    ("검색 엔진", True),
    ("데이터 처리 문서", True),
    ("데이터 처리 문서", False),
    ("검색 엔진 문서 색인", False),
    ("데이터", True),
    ("색인", False),
    ("검색 데이터", True),
]

#: structured queries: phrase filters and a nested synonym group
ASTS = [
    And((Term("검색"), Phrase(("검색", "엔진")))),
    Phrase(("데이터", "처리")),
    And((Or((Term("문서"), Term("색인"))), Term("데이터"))),
]


def _option():
    return AnalyzerOption(synonyms=SynonymDictionary({"검색": ["엔진"]}))


@pytest.fixture(scope="module")
def index_path(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    pages = synthesize_webpages(spark, 120, partitions=4)
    build_and_write(pages, BASE, lang_filter=None, with_blocks=True)
    return BASE


def _hits(rows):
    return [(h["doc_id"], h["score"]) for h in rows]


def _count_decodes(monkeypatch) -> list:
    """Count ``decode_varints`` calls through every module that binds
    the name (the codec's own helpers look it up in the codec)."""
    import importlib

    calls = []
    for name in (
        "mecab_ko_lucene_analyzer_spark.index.codec",
        "mecab_ko_lucene_analyzer_spark.query.wand",
        "mecab_ko_lucene_analyzer_spark.query.executor",
        "mecab_ko_lucene_analyzer_spark.query.router",
        "mecab_ko_lucene_analyzer_spark.engine",
    ):
        mod = importlib.import_module(name)
        original = getattr(mod, "decode_varints", None)
        if original is None:
            continue

        def counted(data, _original=original):
            calls.append(len(data))
            return _original(data)

        monkeypatch.setattr(mod, "decode_varints", counted)
    return calls


def test_second_warm_search_decodes_nothing(spark, index_path, monkeypatch):
    engine = SearchEngine(spark, index_path, _option())
    first = {(q, c): _hits(engine.search(q, k=10, conjunctive=c)) for q, c in SEARCHES}
    counts = {"검색 엔진": engine.count("검색 엔진"), "색인": engine.count("색인")}
    calls = _count_decodes(monkeypatch)
    for q, c in SEARCHES:
        assert _hits(engine.search(q, k=10, conjunctive=c)) == first[q, c], q
    assert {q: engine.count(q) for q in counts} == counts
    assert engine.last_route == "driver"
    assert calls == []
    # the guard really counts: a fresh engine's first search decodes
    fresh = SearchEngine(spark, index_path, _option())
    assert _hits(fresh.search("검색 엔진", k=10)) == first["검색 엔진", True]
    assert calls


def test_second_warm_search_scores_nothing(spark, index_path, monkeypatch):
    """A cached term keeps the BM25 scores of its postings: a repeated
    warm search calls ``bm25_partial`` zero times and answers bit for
    bit like a fresh engine. The kept scores are read-only and counted
    in the cache's bytes."""
    engine = SearchEngine(spark, index_path, _option())
    first = {(q, c): _hits(engine.search(q, k=10, conjunctive=c)) for q, c in SEARCHES}
    first_ast = [_hits(engine.search_ast(ast, k=10)) for ast in ASTS]
    calls = []
    real = wand_mod.bm25_partial

    def counted(*args):
        calls.append(args[0])
        return real(*args)

    monkeypatch.setattr(wand_mod, "bm25_partial", counted)
    for q, c in SEARCHES:
        assert _hits(engine.search(q, k=10, conjunctive=c)) == first[q, c], q
    assert [_hits(engine.search_ast(ast, k=10)) for ast in ASTS] == first_ast
    assert engine.last_route == "driver"
    assert calls == []
    cache = engine.block_cache
    scored = [e for e in cache._cache.values() if e._scores is not None]
    assert scored
    for e in scored:
        arr = e._scores[1]
        assert not arr.flags.writeable and arr.shape == e.docs.shape
    assert cache._bytes == sum(e.nbytes for e in cache._cache.values())
    fresh = SearchEngine(spark, index_path, _option())
    for q, c in SEARCHES:
        assert _hits(fresh.search(q, k=10, conjunctive=c)) == first[q, c], q
    assert [_hits(fresh.search_ast(ast, k=10)) for ast in ASTS] == first_ast
    assert calls  # the guard really counts: a fresh engine scores


def test_term_scores_count_in_the_entry_bytes():
    """Scoring an entry adds its score array to the entry's bytes once;
    rescoring under a new ``(idf, avgdl)`` replaces the array."""
    docs, tfs, dls, _, blocks = _raw_term(random.Random(9), 300, 8)
    grown = []
    entry = TermPostings(blocks, len(docs), on_decode=lambda e, n: grown.append(n)).decode()
    before = entry.nbytes
    s1 = entry.scores(1.5, 10.0)
    assert entry.nbytes - before == s1.nbytes == grown[-1]
    assert entry.scores(1.5, 10.0) is s1
    s2 = entry.scores(2.0, 10.0)
    assert s2 is not s1 and entry.nbytes - before == s2.nbytes
    assert s2.tolist() == [
        2.0 * tf / (tf + K1 * (1 - B + B * dl / 10.0)) for tf, dl in zip(tfs, dls)
    ]


def test_decoded_cache_stays_inside_its_byte_budget(spark, index_path):
    terms = [
        r["term"]
        for r in spark.read.parquet(f"{index_path}/term_stats")
        .orderBy("df", ascending=False)
        .limit(40)
        .collect()
    ]
    blocks = spark.read.parquet(f"{index_path}/blocks")
    direct = DirectBlockReader(f"{index_path}/blocks")
    sizes = {}
    probe = BlockCache(blocks, direct=direct)
    for t in terms:
        sizes[t] = probe.get([t])[t].decode().nbytes
    # room for about three decoded terms of the 40
    cache = BlockCache(blocks, direct=direct)
    cache.cache_bytes = 3 * max(sizes.values())
    order = []
    for t in terms:
        ent = cache.get([t])[t]
        assert ent.docs is None  # decoding waits for a scorer
        ent.decode()
        order.append(t)
        assert cache._bytes <= cache.cache_bytes
        assert cache._bytes == sum(e.nbytes for e in cache._cache.values())
        # what is left is the most recently used tail of the order
        kept = [key[0] for key in cache._cache]
        assert kept == order[len(order) - len(kept):]
    assert 2 <= len(cache._cache) < len(terms)
    # a term decoded by a scorer after its eviction no longer counts
    gone = cache.get([terms[0]])[terms[0]]
    for t in terms[1:8]:
        cache.get([t])[t].decode()
    assert (terms[0], False) not in cache._cache
    before = cache._bytes
    gone.decode()
    assert cache._bytes == before <= cache.cache_bytes
    # the entry-count bound still holds as well
    small = BlockCache(blocks, max_terms=5, direct=direct)
    small.get(terms[:12])
    assert list(small._cache) == [(t, False) for t in sorted(terms[:12])[-5:]]


def test_warm_and_cold_engines_answer_bit_for_bit(spark, index_path):
    warm = SearchEngine(spark, index_path, _option())
    for _ in range(2):
        warm_hits = {(q, c): _hits(warm.search(q, k=50, conjunctive=c)) for q, c in SEARCHES}
        warm_ast = [_hits(warm.search_ast(ast, k=50)) for ast in ASTS]
    assert any(e.docs is not None for e in warm.block_cache._cache.values())
    for q, c in SEARCHES:
        cold = SearchEngine(spark, index_path, _option())
        assert _hits(cold.search(q, k=50, conjunctive=c)) == warm_hits[q, c], q
        assert warm_hits[q, c], q
    for ast, want in zip(ASTS, warm_ast):
        cold = SearchEngine(spark, index_path, _option())
        assert _hits(cold.search_ast(ast, k=50)) == want, ast


@pytest.mark.parametrize("strategy", ["evaluator-and-or", "evaluator-dismax-phrase", "bag"])
def test_forced_strategies_warm_equals_cold(spark, index_path, strategy):
    """The driver evaluator answers bit for bit alike from raw blocks, a
    decoded cache and an uncached Spark fetch (whose postings arrive in
    the scan's collect order) — for bags through ``wand_topk``'s
    MaxScore step; it also equals the scoring spec over the tokenized
    corpus, for bags, And/Or trees of terms and trees with DisMax and
    Phrase nodes."""
    from ast_reference import ast_oracle, postings_from_tokens

    from mecab_ko_lucene_analyzer_spark.analysis.tokenizer import token_records
    from mecab_ko_lucene_analyzer_spark.query.ast import DisMax, ast_terms, bag_ast

    engine = SearchEngine(spark, index_path, _option())
    asts = {
        "evaluator-and-or": [
            And((Term("검색"), Term("엔진"))),
            And((Or((Term("검색"), Term("엔진"))), Term("데이터"))),
            And((Term("데이터"),)),
        ],
        "evaluator-dismax-phrase": [
            And((DisMax((Term("검색"), Term("엔진")), 0.3), Phrase(("데이터", "처리")))),
            And((Phrase(("데이터", "처리")),)),
            Or((DisMax((Term("데이터"), Term("처리")), 0.0), Term("엔진"))),
        ],
    }.get(strategy, [])
    bags = [["검색", "엔진", "문서"], ["데이터", "처리"], ["색인"]]

    def run(cache):
        out = []
        if asts:
            for ast in asts:
                bound = load_query_postings(
                    engine.blocks, engine.n_docs, sorted(ast_terms(ast)), True, cache
                )
                out.append(_execute_bound(ast, bound, engine.avgdl, 30))
        else:
            for terms in bags:
                cursors = load_query_cursors(
                    engine.blocks, None, engine.n_docs, engine.avgdl, terms, cache=cache
                )
                out.append(wand_topk(cursors, k=30))
        return out

    # a new cache: the scorers start from raw, undecoded blocks
    cold = run(BlockCache(engine.blocks, direct=DirectBlockReader(f"{index_path}/blocks")))
    cache = engine.block_cache
    first = run(cache)
    for terms in bags + [["검색", "엔진", "데이터"]]:
        for p in cache.get(terms).values():
            p.decode()
    assert run(cache) == first == cold == run(None)
    assert all(r for r in cold)
    rows = sorted(
        synthesize_webpages(spark, 120, partitions=4).select("url", "text").collect(),
        key=lambda r: r["url"],
    )
    postings, doc_lens = postings_from_tokens(
        {i: token_records(r["text"]) for i, r in enumerate(rows)}
    )
    for ast, got in zip(asts or [bag_ast(t) for t in bags], cold):
        want = ast_oracle(ast, postings, doc_lens, engine.n_docs, engine.avgdl, k=30)
        assert got == want, ast


def _serving_texts(rng: random.Random, nouns: list[str], numbers: list[str], n: int):
    """``n`` seeded ``(text, exclude)`` searches shaped like serving
    traffic: 1–3 nouns, each a hot noun or any corpus noun; every fifth
    a tail-style noun plus a number (half of them numbers the corpus
    holds); every seventh excludes a hot noun."""
    out = []
    for i in range(n):
        if i % 5 == 4:
            num = rng.choice(numbers) if rng.random() < 0.5 else str(rng.randint(1, 9999))
            text = f"{rng.choice(nouns)} {num}"
        else:
            text = " ".join(
                rng.choice(_HOT_NOUNS if rng.random() < 0.5 else nouns)
                for _ in range(rng.randint(1, 3))
            )
        out.append((text, rng.choice(_HOT_NOUNS) if i % 7 == 6 else None))
    return out


def test_served_top10_equals_the_scoring_spec(spark, index_path):
    """A seeded stream of ~200 serving-shaped searches through
    ``engine.search`` — conjunctions of corpus nouns, synonym groups,
    tail noun + number texts, must_not exclusions — answers the top-10
    ``(doc_id, score)`` of the scoring spec over the tokenized corpus,
    bit for bit."""
    from ast_reference import ast_oracle, postings_from_tokens

    from mecab_ko_lucene_analyzer_spark.analysis.mini_dict import corpus_nouns
    from mecab_ko_lucene_analyzer_spark.analysis.tokenizer import token_records

    engine = SearchEngine(spark, index_path, _option())
    rows = sorted(
        synthesize_webpages(spark, 120, partitions=4).select("url", "text").collect(),
        key=lambda r: r["url"],
    )
    postings, doc_lens = postings_from_tokens(
        {i: token_records(r["text"]) for i, r in enumerate(rows)}
    )
    numbers = sorted(t for t in postings if t.isdigit())
    texts = _serving_texts(random.Random(811), corpus_nouns(), numbers, 200)
    non_empty = 0
    for text, exclude in texts:
        got = _hits(engine.search(text, k=10, exclude=exclude))
        ast = engine.build_query(text, exclude)
        want = ast_oracle(ast, postings, doc_lens, engine.n_docs, engine.avgdl, k=10)
        assert got == want, (text, exclude)
        assert engine.last_route == "driver"
        non_empty += bool(got)
    assert non_empty >= 100


def _raw_term(rng, n_docs, block_size):
    docs = sorted(rng.sample(range(n_docs), rng.randint(1, n_docs)))
    tfs = [rng.randint(1, 4) for _ in docs]
    dls = [rng.randint(4, 40) for _ in docs]
    positions = [sorted(rng.sample(range(dl), tf)) for tf, dl in zip(tfs, dls)]
    blocks = []
    for i in range(0, len(docs), block_size):
        sl = slice(i, i + block_size)
        dd, tt, pp = encode_block(
            np.array(docs[sl]), np.array(tfs[sl]), [np.array(p) for p in positions[sl]]
        )
        impacts = [
            tf / (tf + K1 * (1 - B + B * dl / 10.0))
            for tf, dl in zip(tfs[sl], dls[sl])
        ]
        blocks.append(_Block(docs[i], dd, tt, encode_varints(dls[sl]), max(impacts), pp))
    rng.shuffle(blocks)  # the entry sorts them by first_doc
    return docs, tfs, dls, positions, blocks


def test_entry_over_raw_blocks_matches_its_postings():
    """An entry built from a raw, shuffled ``_Block`` list (what the
    bulk scorer builds per broadcast term and task) decodes to the
    postings it was built from — docs, tfs, doc lengths, positions and
    BM25 scores — and its max impact bounds every partial at idf 1.0."""
    rng = random.Random(7)
    for _ in range(60):
        docs, tfs, dls, positions, blocks = _raw_term(rng, 200, rng.choice([1, 2, 3, 128]))
        idf = lucene_idf(250, len(docs))
        entry = TermPostings(list(blocks), len(docs)).decode()
        assert entry.docs.tolist() == docs
        assert (entry.tfs.tolist(), entry.dls.tolist()) == (tfs, dls)
        assert [p.tolist() for p in entry.positions(np.arange(len(docs)))] == positions
        assert entry.scores(idf, 10.0).tolist() == [
            idf * tf / (tf + K1 * (1 - B + B * dl / 10.0)) for tf, dl in zip(tfs, dls)
        ]
        assert entry.max_impact == max(
            tf / (tf + K1 * (1 - B + B * dl / 10.0)) for tf, dl in zip(tfs, dls)
        )


def test_a_decode_in_progress_is_not_seen_half_done(monkeypatch):
    """Thread A pauses inside the decode of its entry's tfs; thread B,
    reading the same entry meanwhile, must decode it itself (or find
    it whole) and score it, never find the doc IDs set and the tfs
    missing."""
    import threading

    docs, tfs, dls, _, blocks = _raw_term(random.Random(11), 120, 8)
    entry = TermPostings(blocks, len(docs))
    tf_bytes = b"".join(blk.tfs for blk in entry.blocks)
    inside, release = threading.Event(), threading.Event()
    real = wand_mod.decode_varints

    def paused(buf):
        if buf == tf_bytes and threading.current_thread() is thread_a:
            inside.set()
            release.wait(10)
        return real(buf)

    monkeypatch.setattr(wand_mod, "decode_varints", paused)
    thread_a = threading.Thread(target=entry.decode)
    thread_a.start()
    try:
        assert inside.wait(10)
        idf = lucene_idf(150, len(docs))
        scores = entry.decode().scores(idf, 10.0)
    finally:
        release.set()
        thread_a.join(10)
    assert scores.tolist() == [
        idf * tf / (tf + K1 * (1 - B + B * dl / 10.0)) for tf, dl in zip(tfs, dls)
    ]
    assert entry.docs.tolist() == docs


def test_phrase_positions_decode_per_candidate_block(monkeypatch):
    """Positions decode only for the blocks holding a wanted posting,
    once per entry, and the entry's byte count grows by what they
    hold."""
    decoded = []
    real = wand_mod.decode_positions

    def counted(pos_deltas, tfs):
        decoded.append(pos_deltas)
        return real(pos_deltas, tfs)

    monkeypatch.setattr(wand_mod, "decode_positions", counted)
    docs, _, _, positions, blocks = _raw_term(random.Random(5), 400, 4)
    grown = []
    entry = TermPostings(blocks, len(docs), on_decode=lambda e, n: grown.append(n)).decode()
    before = entry.nbytes
    want = [1, 2, len(docs) - 1]  # two in block 0, one in the last block
    got = entry.positions(np.array(want))
    assert [p.tolist() for p in got] == [positions[i] for i in want]
    assert decoded == [entry.blocks[0].pos_deltas, entry.blocks[-1].pos_deltas]
    assert entry.nbytes - before == sum(grown[1:]) > 0
    entry.positions(np.array([0, 3]))
    assert len(decoded) == 2  # block 0 is kept


def test_phrase_positions_stay_inside_the_cache_byte_budget(spark, index_path):
    """Phrase evaluation fills positions into cached entries; the cache
    counts them and evicts to stay inside its byte bound."""
    from mecab_ko_lucene_analyzer_spark.query.executor import execute_ast

    engine = SearchEngine(spark, index_path, _option())
    terms = [
        r["term"]
        for r in spark.read.parquet(f"{index_path}/term_stats")
        .orderBy("df", ascending=False)
        .limit(12)
        .collect()
    ]
    phrases = [Phrase((a, b), slop=2) for a, b in zip(terms, terms[1:])]
    cache = BlockCache(engine.blocks, direct=DirectBlockReader(f"{index_path}/blocks"))
    want = [
        execute_ast(p, engine.blocks, engine.n_docs, engine.avgdl, k=20, cache=cache)
        for p in phrases
    ]
    assert any(want)
    held = [e for e in cache._cache.values() if e.pos]
    assert held and cache._bytes == sum(e.nbytes for e in cache._cache.values())
    # room for about two of the entries with positions
    small = BlockCache(engine.blocks, direct=DirectBlockReader(f"{index_path}/blocks"))
    small.cache_bytes = 2 * max(e.nbytes for e in held)
    for p, w in zip(phrases, want):
        got = execute_ast(p, engine.blocks, engine.n_docs, engine.avgdl, k=20, cache=small)
        assert got == w
        assert small._bytes <= small.cache_bytes
        assert small._bytes == sum(e.nbytes for e in small._cache.values())
    assert len(small._cache) < len(cache._cache)


def test_warm_search_builds_no_cursor(spark, index_path, monkeypatch):
    """A repeated warm ``search``/``count`` over AND, OR, synonym and
    phrase queries, and over disjunctive bags (``search(conjunctive=
    False)``, ``search_prefix``, a disjunctive ``count``), scores the
    cached entries directly: it builds no per-query postings object (no
    ``TermPostings``), reads no block or df, and takes each doc_map row
    group it resolves from the reader's cache once per search."""
    engine = SearchEngine(spark, index_path, _option())
    asts = [And((Term("데이터"), Phrase(("데이터", "처리")))), Or((Term("문서"), Term("색인")))]

    def run():
        return (
            [_hits(engine.search(q, k=10)) for q in ("검색 엔진", "데이터 처리 문서", "검색")],
            [_hits(engine.search_ast(ast, k=10)) for ast in asts],
            [engine.count(q, conjunctive=c) for q, c in (("검색 엔진", True), ("문서 색인", False))],
            engine.count_ast(asts[0]),
            _hits(engine.search("데이터 처리", k=10, conjunctive=False)),
            _hits(engine.search_prefix("데이", k=10)),
            engine.count("데이터 처리", conjunctive=False),
        )

    first = run()
    built = []
    real_init = TermPostings.__init__
    monkeypatch.setattr(
        TermPostings, "__init__", lambda self, *a, **kw: built.append(a) or real_init(self, *a, **kw)
    )
    reads = []
    for reader in (engine.block_cache.direct, engine._term_stats_direct):
        monkeypatch.setattr(reader, "_row_group", lambda *a: reads.append(a))
    doc_map = engine._doc_map_direct
    calls = []
    real_rg = doc_map._row_group
    monkeypatch.setattr(
        doc_map, "_row_group", lambda fid, rg, *a: calls.append((fid, rg)) or real_rg(fid, rg, *a)
    )
    for text in ("검색 엔진", "데이터 처리 문서", "검색"):
        calls.clear()
        hits = engine.search(text, k=10)
        holding = {
            doc_map._where[i] for i, (lo, hi) in enumerate(zip(doc_map._mins, doc_map._maxs))
            if any(lo <= h["doc_id"] <= hi for h in hits)
        }
        assert hits and sorted(calls) == sorted(holding)
    assert run() == first
    assert all(first[4:6]) and first[6] > 0
    assert built == [] and reads == []
    assert engine.last_route == "driver"
    # the guard really counts: an uncached load builds the term's entry
    load_query_postings(engine.blocks, engine.n_docs, ["데이터"])
    assert len(built) == 1
