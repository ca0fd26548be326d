"""End-to-end slice (SURVEY.md §7 M1): synthetic webpages → analyzer UDF
→ postings → BM25 top-k, validated against the in-repo brute-force
oracle (rank-identical docIDs, scores within 1e-9)."""

import pytest

from mecab_ko_lucene_analyzer_spark.analysis.tokenizer import token_records
from mecab_ko_lucene_analyzer_spark.index import build_index
from mecab_ko_lucene_analyzer_spark.index.build import corpus_partials
from mecab_ko_lucene_analyzer_spark.query import bm25_oracle, bm25_topk
from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

N_DOCS = 80


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_webpages(spark, N_DOCS, partitions=5).cache()


@pytest.fixture(scope="module")
def index(spark, pages):
    return build_index(pages, lang_filter=None).cache()


def test_corpus_deterministic(pages, spark):
    again = synthesize_webpages(spark, N_DOCS, partitions=3)
    a = sorted(pages.select("url", "text").collect())
    b = sorted(again.select("url", "text").collect())
    assert a == b


def _url_order_doc_map(pages, num_partitions):
    _, doc_map, _, _, release = corpus_partials(
        pages, lang_filter=None, order="url", num_partitions=num_partitions
    )
    try:
        return {r["url"]: r["doc_id"] for r in doc_map.collect()}
    finally:
        release()


def test_doc_ids_dense_and_deterministic(spark, pages):
    m1 = _url_order_doc_map(pages, 4)
    m2 = _url_order_doc_map(pages, 7)
    assert m1 == m2  # partition-count independent
    assert sorted(m1.values()) == list(range(N_DOCS))  # dense 0..N-1
    # doc_id order == url order (global rank)
    by_url = sorted(m1)
    assert [m1[u] for u in by_url] == list(range(N_DOCS))


def test_index_stats_consistent(index):
    n_docs, avgdl = index.corpus_stats.first()
    assert n_docs == N_DOCS
    total_tokens = sum(r["doc_len"] for r in index.doc_stats.collect())
    assert abs(avgdl - total_tokens / N_DOCS) < 1e-9
    # df = number of postings rows per term
    df_check = index.postings.groupBy("term").count().collect()
    df_map = {r["term"]: r["count"] for r in df_check}
    for r in index.term_stats.collect():
        assert df_map[r["term"]] == r["df"]


def _oracle_token_lists(pages_df):
    rows = pages_df.select("url", "text").collect()
    # oracle recomputes doc ids the same way: rank of url
    by_url = sorted(rows, key=lambda r: r["url"])
    return {
        i: [t["term"] for t in token_records(r["text"])]
        for i, r in enumerate(by_url)
    }


QUERIES = [
    ["검색", "엔진"],
    ["삼성전자"],
    ["한국어", "문서", "색인"],
    ["spark", "index"],
    ["데이터", "처리"],
    ["없는단어쿼리"],
]


@pytest.mark.parametrize("terms", QUERIES, ids=["+".join(q) for q in QUERIES])
def test_bm25_rank_identical_to_oracle(spark, pages, index, terms):
    expected = bm25_oracle(_oracle_token_lists(pages), terms, k=10)
    got = [(r["doc_id"], r["score"]) for r in bm25_topk(index, terms, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, s1), (_, s2) in zip(got, expected):
        assert s1 == pytest.approx(s2, abs=1e-9)


def test_positions_decode_consistent(index):
    import numpy as np

    from mecab_ko_lucene_analyzer_spark.index.codec import decode_varints

    rows = index.postings.limit(200).collect()
    for r in rows:
        ps = np.cumsum(decode_varints(bytes(r["positions"])).astype(np.int64))
        assert list(ps) == sorted(ps)
        assert len(ps) == r["tf"]
        assert all(p >= 0 for p in ps)


def test_rows_stable_classifier(spark, tmp_path):
    """The unordered docID path may only run count/text/url as three
    independent jobs when the input is a deterministic scan; anything
    with an upstream shuffle must be classified unstable (and is then
    materialized once inside corpus_partials)."""
    import pyspark.sql.functions as F

    from mecab_ko_lucene_analyzer_spark.index.build import _rows_stable_across_jobs

    pages = synthesize_webpages(spark, 20, partitions=2)
    pages.write.parquet(f"{tmp_path}/p")
    fp = spark.read.parquet(f"{tmp_path}/p")
    assert _rows_stable_across_jobs(fp.select("url", "text"))
    assert _rows_stable_across_jobs(fp.filter(F.col("lang") == "ko").select("url"))
    assert not _rows_stable_across_jobs(fp.repartition(5))
    assert not _rows_stable_across_jobs(fp.groupBy("lang").count())
    assert not _rows_stable_across_jobs(fp.join(fp.select("url"), "url"))
    # a cache is one shared materialization → stable by construction
    cached = fp.repartition(5).cache()
    try:
        assert _rows_stable_across_jobs(cached.select("url", "text"))
    finally:
        cached.unpersist()
    # createDataFrame renders as LogicalRDD, which can wrap ANY rdd —
    # conservatively unstable (the one-time persist of a local
    # collection costs nothing)
    assert not _rows_stable_across_jobs(
        spark.createDataFrame([("a", "b")], "url string, text string")
    )
    # node shape (Filter/Project over a scan) is not enough: a
    # NONDETERMINISTIC predicate or projection re-evaluates to a
    # different row set per job — must be classified unstable
    assert not _rows_stable_across_jobs(fp.filter(F.rand(seed=1) < 0.5))
    assert not _rows_stable_across_jobs(
        fp.select("url", F.rand(seed=1).alias("r"))
    )
    # ...and the check is NOT skippable above a cache: the cache is one
    # materialization but a nondeterministic filter OVER it still
    # re-evaluates to a different row set per job
    cached2 = fp.repartition(3).cache()
    try:
        assert not _rows_stable_across_jobs(cached2.filter(F.rand(seed=1) < 0.5))
        assert _rows_stable_across_jobs(
            cached2.filter(F.col("lang") == "ko").select("url")
        )
    finally:
        cached2.unpersist()


def test_shuffled_input_keeps_postings_docmap_consistent(spark):
    """A shuffled (repartitioned) input must still produce postings and
    doc_map that agree on docIDs: every posting's doc_id resolves to
    exactly the url whose text produced its terms. Before the round-4
    persist fallback this relied on per-job row-order luck."""
    import pyspark.sql.functions as F

    from mecab_ko_lucene_analyzer_spark.index.build import postings_from_partials

    pages = synthesize_webpages(spark, 40, partitions=3)
    pages.write.mode("overwrite").parquet("/tmp/test_shuffled_input_pages")
    shuffled = spark.read.parquet("/tmp/test_shuffled_input_pages").repartition(7)
    partials, doc_map, n_docs, _, _ = corpus_partials(shuffled, lang_filter=None)
    postings = postings_from_partials(partials)
    dm = {r["doc_id"]: r["url"] for r in doc_map.collect()}
    assert len(dm) == n_docs == 40
    # ground truth: tokenize each url's text on the driver
    truth_rows = sorted(
        pages.select("url", "text").collect(), key=lambda r: r["url"]
    )
    truth = {
        r["url"]: {t["term"] for t in token_records(r["text"])} for r in truth_rows
    }
    by_doc: dict = {}
    for r in postings.select("doc_id", "term").collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["term"])
    for doc_id, terms in by_doc.items():
        assert terms == truth[dm[doc_id]], f"doc {doc_id} ({dm[doc_id]})"


def test_build_index_cli_extract_html(spark, pages, tmp_path, monkeypatch):
    """jobs/build_index.py --extract-html: a crawl shipping raw pages
    with a stale text column indexes identically to the clean corpus —
    extraction regenerates text from html:binary before the build."""
    import sys
    from pathlib import Path

    import pyspark.sql.functions as F

    sys.path.insert(0, str(Path("jobs").resolve()))
    import build_index as build_index_job

    stale = pages.withColumn("text", F.lit(""))
    src = str(tmp_path / "html_only")
    stale.write.parquet(src)
    out = str(tmp_path / "idx")
    monkeypatch.setattr(
        sys,
        "argv",
        ["build_index.py", "--input", src, "--output", out, "--lang", "ko"],
    )
    monkeypatch.setattr(
        "mecab_ko_lucene_analyzer_spark.plans.get_spark", lambda **kw: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    # without the flag the stale text indexes nothing
    monkeypatch.setattr(
        sys, "argv", sys.argv + ["--extract-html"], raising=False
    )
    build_index_job.main()

    from mecab_ko_lucene_analyzer_spark.index import build_and_write

    ref = str(tmp_path / "idx_ref")
    build_and_write(pages, ref, lang_filter="ko", with_blocks=True)
    got = spark.read.parquet(f"{out}/term_stats").orderBy("term").collect()
    want = spark.read.parquet(f"{ref}/term_stats").orderBy("term").collect()
    assert got == want and len(got) > 0


def test_lazy_build_index_releases_its_docid_scaffold(spark):
    """Over an input that is not stable across jobs (shuffled pages)
    the lazy ``build_index`` pins the input to number its documents;
    ``release()`` on the index unpersists it, leaving nothing cached
    that was not cached before."""
    import pyspark.sql.functions as F

    sc = spark.sparkContext

    def persisted() -> set:
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    before = persisted()
    shuffled = synthesize_webpages(spark, 30, partitions=3).orderBy(F.rand(seed=3))
    index = build_index(shuffled, lang_filter=None)
    assert persisted() - before  # the docID scaffold is pinned
    n_docs = index.corpus_stats.first()["n_docs"]
    assert n_docs == 30
    index.release()
    assert persisted() == before
