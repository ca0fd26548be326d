"""Streaming incremental indexing (availableNow catch-up) and dictionary
file loading / status lineage."""

import shutil

import pyspark.sql.functions as F
import pytest

from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages
from mecab_ko_lucene_analyzer_spark.sources.dictionaries import (
    load_dictionary_set,
    write_dict_status,
)
from mecab_ko_lucene_analyzer_spark.streaming import incremental_index_stream
from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
    read_incremental_postings,
)

BASE = "/tmp/test_stream_idx"


def test_incremental_stream_catchup(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    # two "crawl drops" written to the input dir
    pages = synthesize_webpages(spark, 40, partitions=2)
    pages.filter(F.col("url") < "https://example-00000020").write.mode(
        "overwrite"
    ).parquet(f"{BASE}/in")
    q = incremental_index_stream(
        spark, f"{BASE}/in", f"{BASE}/idx", f"{BASE}/ckpt", lang_filter=None
    )
    q.awaitTermination(120)
    first = read_incremental_postings(spark, f"{BASE}/idx")
    docs1 = first.select("doc_id").distinct().count()
    assert docs1 == 20

    pages.filter(F.col("url") >= "https://example-00000020").write.mode(
        "append"
    ).parquet(f"{BASE}/in")
    q = incremental_index_stream(
        spark, f"{BASE}/in", f"{BASE}/idx", f"{BASE}/ckpt", lang_filter=None
    )
    q.awaitTermination(120)
    merged = read_incremental_postings(spark, f"{BASE}/idx")
    # doc ids are disjoint across batches → distinct docs = 40
    assert merged.select("doc_id").distinct().count() == 40
    # postings per doc are unique (union needs no re-aggregation)
    dup = merged.groupBy("term", "doc_id").count().filter("count > 1").count()
    assert dup == 0


def test_ingest_cli_catchup_and_compact(spark, tmp_path, capsys, monkeypatch):
    """jobs/ingest.py end-to-end: bounded-batch catch-up ingest (one
    file per trigger → one doc-base commit per drop) then compact into
    a servable index."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path("jobs").resolve().parent / "jobs"))
    import ingest as ingest_job

    B = str(tmp_path)
    pages = synthesize_webpages(spark, 30, partitions=1)
    pages.write.parquet(f"{B}/in")  # single drop, 1 file
    monkeypatch.setattr(
        sys,
        "argv",
        ["ingest.py", "ingest", "--index", f"{B}/idx", "--input", f"{B}/in",
         "--checkpoint", f"{B}/ckpt", "--lang", "", "--max-files-per-trigger", "1"],
    )
    # reuse the session fixture instead of letting the job build one
    monkeypatch.setattr(
        "mecab_ko_lucene_analyzer_spark.plans.get_spark", lambda **kw: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    ingest_job.main()
    out = json.loads(capsys.readouterr().out)
    assert out["status"] == "ingested"
    monkeypatch.setattr(
        sys, "argv", ["ingest.py", "compact", "--index", f"{B}/idx"]
    )
    ingest_job.main()
    out = json.loads(capsys.readouterr().out)
    assert out["status"] == "compacted"
    blocks = spark.read.parquet(f"{out['output']}/blocks")
    assert blocks.count() > 0
    assert spark.read.parquet(f"{out['output']}/doc_map").count() == 30


def test_compact_incremental_equals_batch_build(spark, tmp_path):
    """Compaction folds the streamed deltas into a full serving index
    that is IDENTICAL to a from-scratch batch build over the same
    corpus — postings rows (incl. position bytes), block-max blocks
    (byte-for-byte payloads), and corpus stats. Doc-disjoint deltas +
    partitioning-independent re-blocking make this exact, not
    approximate."""
    from mecab_ko_lucene_analyzer_spark.index import build_and_write
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
    )

    B = str(tmp_path)
    pages = synthesize_webpages(spark, 40, partitions=2)
    pages.filter(F.col("url") < "https://example-00000020").write.parquet(f"{B}/in")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    pages.filter(F.col("url") >= "https://example-00000020").write.mode(
        "append"
    ).parquet(f"{B}/in")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)

    out = compact_incremental(spark, f"{B}/idx")
    # batch build over the same corpus with url-rank docIDs (the
    # incremental bases assign exactly these ids for url-ordered drops)
    build_and_write(
        pages, f"{B}/batch", lang_filter=None, with_blocks=True, doc_order="url"
    )

    def rows(path, cols, key):
        df = spark.read.parquet(path).select(*cols)
        return sorted((tuple(r) for r in df.collect()), key=key)

    def df_rows(df, cols, key):
        return sorted((tuple(r) for r in df.select(*cols).collect()), key=key)

    pcols = ["term", "doc_id", "tf", "positions", "doc_len"]
    # both indexes serve row postings as a decoded view over partials
    from mecab_ko_lucene_analyzer_spark.index.build import load_index

    a = df_rows(load_index(spark, out).postings, pcols, lambda t: (t[0], t[1]))
    b = df_rows(
        load_index(spark, f"{B}/batch").postings, pcols, lambda t: (t[0], t[1])
    )
    assert len(a) == len(b) > 0 and a == b
    bcols = spark.read.parquet(f"{B}/batch/blocks").columns
    a = rows(f"{out}/blocks", bcols, lambda t: (t[0], t[1], t[2]))
    b = rows(f"{B}/batch/blocks", bcols, lambda t: (t[0], t[1], t[2]))
    assert len(a) == len(b) > 0 and a == b
    ca = spark.read.parquet(f"{out}/corpus_stats").first()
    cb = spark.read.parquet(f"{B}/batch/corpus_stats").first()
    assert ca["n_docs"] == cb["n_docs"] == 40
    assert abs(ca["avgdl"] - cb["avgdl"]) < 1e-9
    assert spark.read.parquet(f"{out}/doc_map").count() == 40


def test_doc_base_state_via_hadoop_fs(spark, tmp_path):
    """Doc-base state must route through the Hadoop FileSystem API, not
    driver-local os.path — a ``file://`` URI is invisible to os.path
    (``os.path.exists("file:///x")`` is False even when /x exists), so
    this roundtrip fails if the state reverts to local-file probing.
    On a real cluster the same code path serves hdfs:// and s3a://."""
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        _batch_doc_base,
        _save_doc_base,
    )

    state = f"file://{tmp_path}/_stream_state/doc_base.json"
    assert _batch_doc_base(spark, state, 0) == 0  # absent → base 0
    _save_doc_base(spark, state, batch_id=0, base=0, n_docs=1234)
    assert _batch_doc_base(spark, state, 1) == 1234
    _save_doc_base(spark, state, batch_id=1, base=1234, n_docs=4444)
    assert _batch_doc_base(spark, state, 2) == 5678
    # REPLAY of an already-committed batch_id gets its ORIGINAL base
    # back, not the advanced one (foreachBatch is at-least-once)
    assert _batch_doc_base(spark, state, 1) == 1234
    # the file landed where the index lives (strip the scheme to check)
    assert (tmp_path / "_stream_state" / "doc_base.json").exists()


def test_dictionary_files_roundtrip(spark, tmp_path):
    d = tmp_path / "dicts"
    d.mkdir()
    (d / "user.txt").write_text("노트북\thigh\n가방\n# comment\n텔레비전\tmax\n")
    (d / "stop.txt").write_text("세일\n")
    (d / "unit.txt").write_text("gb\ncm\n")
    (d / "synonym.txt").write_text("노트북,laptop,랩탑\n삼성=>samsung\n")
    (d / "space.txt").write_text("노트북가방\t노트북 가방\n")
    (d / "compound.txt").write_text("삼성전자\t삼성 전자\n")
    ds = load_dictionary_set(str(d))
    assert ds.tag_prob.find("노트북") is not None
    assert ds.tag_prob.find("텔레비전")[0].prob == -5.0
    assert "세일" in ds.stop
    assert "gb" in ds.unit
    assert sorted(ds.synonym.get("laptop")) == ["노트북", "랩탑"]  # two-way
    assert ds.synonym.get("삼성") == ["samsung"]  # one-way
    assert ds.synonym.get("samsung") == []
    assert ds.space["노트북가방"] == ["노트북", "가방"]
    assert ds.compound["삼성전자"] == ["삼성", "전자"]

    status = str(tmp_path / "dict_status")
    write_dict_status(spark, str(d), status)
    write_dict_status(spark, str(d), status)  # reload appends a new epoch
    rows = spark.read.parquet(status).collect()
    assert len(rows) == 14  # 7 dicts x 2 epochs
    syn = [r for r in rows if r["dict_name"] == "synonym"][0]
    assert syn["entries"] == 2 and len(syn["fingerprint"]) == 32


def test_dict_compile_restore_roundtrip_cli(tmp_path, capsys, monkeypatch):
    """CLI compile → restore → reload round-trip: the restored text
    files reload to the identical dictionary structures, and
    re-compiling them is byte-identical (fixpoint) — the reference's
    restore handler contract (deployment migration path)."""
    import json
    import os
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path("jobs").resolve().parent / "jobs"))
    import dict as dict_job

    d = tmp_path / "dicts"
    d.mkdir()
    (d / "user.txt").write_text("노트북\thigh\n가방\n# comment\n텔레비전\tmax\n짐\tlow\n")
    (d / "user_words.txt").write_text("바지\n")
    (d / "stop.txt").write_text("세일\n")
    (d / "unit.txt").write_text("gb\ncm\n")
    (d / "unit_synonym.txt").write_text("kg,킬로그램\n")
    (d / "synonym.txt").write_text("노트북,laptop,랩탑\n삼성=>samsung\n")
    (d / "space.txt").write_text("노트북가방\t노트북 가방\n")
    (d / "compound.txt").write_text("삼성전자\t삼성 전자\n")

    compiled = str(tmp_path / "compiled")
    monkeypatch.setattr(
        sys, "argv", ["dict.py", "--dicts", str(d), "compile", "--compiled", compiled]
    )
    dict_job.main()
    out = json.loads(capsys.readouterr().out)
    assert "user.dict" in out["images"] and len(out["images"]) == 8

    restored = str(tmp_path / "restored")
    monkeypatch.setattr(
        sys, "argv", ["dict.py", "--dicts", restored, "restore", "--compiled", compiled]
    )
    dict_job.main()
    out = json.loads(capsys.readouterr().out)
    assert "user.txt" in out["files"]

    from mecab_ko_lucene_analyzer_spark.sources.dictionaries import (
        compile_dictionaries,
        load_dictionary_set,
    )

    a, b = load_dictionary_set(str(d)), load_dictionary_set(restored)
    assert a.tag_prob.entries == b.tag_prob.entries
    assert a.user == b.user and a.stop == b.stop and a.unit == b.unit
    assert a.synonym.mapping == b.synonym.mapping
    assert a.unit_synonym.mapping == b.unit_synonym.mapping
    assert a.space == b.space and a.compound == b.compound
    # fixpoint: compiling the restored files is byte-identical
    compiled2 = str(tmp_path / "compiled2")
    compile_dictionaries(restored, compiled2)
    for img in os.listdir(compiled):
        with open(os.path.join(compiled, img), "rb") as f1, open(
            os.path.join(compiled2, img), "rb"
        ) as f2:
            assert f1.read() == f2.read(), img


def test_streaming_dedup_state_across_batches(spark, tmp_path):
    """First-seen wins within a batch (min url) AND across restarts
    (state store keeps the seen-set): batch 2's re-crawls of batch-1
    pages are dropped, its genuinely new page passes."""
    import datetime

    import pyspark.sql.functions as F

    from mecab_ko_lucene_analyzer_spark.streaming.dedup import (
        read_deduped,
        streaming_dedup_stream,
    )

    ts = datetime.datetime(2026, 1, 1)
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    b1 = [
        ("u01", ts, b"", "alpha page", "ko"),
        ("u02", ts, b"", "beta page", "ko"),
        ("u03", ts, b"", "alpha page", "ko"),  # within-batch dup of u01
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(inp)
    streaming_dedup_stream(spark, inp, out, ckpt).awaitTermination()
    b2 = [
        ("u04", ts, b"", "alpha page", "ko"),  # cross-batch dup — state must drop it
        ("u05", ts, b"", "gamma page", "ko"),  # new
    ]
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(inp)
    streaming_dedup_stream(spark, inp, out, ckpt).awaitTermination()
    kept = {r.url: r.text for r in read_deduped(spark, out).collect()}
    assert kept == {"u01": "alpha page", "u02": "beta page", "u05": "gamma page"}


def test_compaction_swap_never_tears_readers(spark, tmp_path):
    """Round-4 serving-concurrency contract: compaction builds into a
    fresh versioned dir and flips a pointer; a reader resolving the
    pointer mid-compaction must ALWAYS see an internally consistent
    index (here: corpus_stats.n_docs == doc_map row count for whichever
    version it lands on). The previous in-place overwrite broke exactly
    this invariant (old corpus_stats next to a half-rewritten doc_map)."""
    import threading

    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
        serving_index_path,
    )

    B = str(tmp_path)
    pages = synthesize_webpages(spark, 40, partitions=2)
    pages.filter(F.col("url") < "https://example-00000020").write.parquet(f"{B}/in")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    assert serving_index_path(spark, f"{B}/idx") is None  # pre-compaction
    v1 = compact_incremental(spark, f"{B}/idx")
    assert serving_index_path(spark, f"{B}/idx") == v1
    assert "/versions/v" in v1

    stop = threading.Event()
    failures: list[str] = []
    samples: list[str] = []

    def reader():
        while not stop.is_set():
            path = serving_index_path(spark, f"{B}/idx")
            try:
                n = spark.read.parquet(f"{path}/corpus_stats").first()["n_docs"]
                dm = spark.read.parquet(f"{path}/doc_map").count()
                if n != dm:
                    failures.append(f"{path}: corpus n_docs {n} != doc_map {dm}")
                samples.append(path)
            except Exception as e:  # missing/partial table = torn state
                failures.append(f"{path}: {e!r}")

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        # second drop + second compaction run WHILE the reader spins
        pages.filter(F.col("url") >= "https://example-00000020").write.mode(
            "append"
        ).parquet(f"{B}/in")
        incremental_index_stream(
            spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
        ).awaitTermination(120)
        v2 = compact_incremental(spark, f"{B}/idx")
    finally:
        stop.set()
        t.join(30)
    assert not failures, failures[:3]
    assert samples, "reader never sampled"
    assert serving_index_path(spark, f"{B}/idx") == v2 != v1
    # old version left intact for in-flight readers
    assert spark.read.parquet(f"{v1}/doc_map").count() == 20
    assert spark.read.parquet(f"{v2}/doc_map").count() == 40


def test_engine_from_incremental_serves_current_compaction(spark, tmp_path):
    """SearchEngine.from_incremental resolves the serving pointer and
    answers queries over the compacted index."""
    from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
    )

    B = str(tmp_path)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        SearchEngine.from_incremental(spark, f"{B}/idx")

    pages = synthesize_webpages(spark, 30, partitions=2)
    pages.write.parquet(f"{B}/in")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    out = compact_incremental(spark, f"{B}/idx")
    eng = SearchEngine.from_incremental(spark, f"{B}/idx")
    assert eng.base_path == out
    hits = eng.search("데이터", k=5, conjunctive=False)
    assert hits and all(h["url"].startswith("https://example-") for h in hits)


def test_incremental_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the batch's writes
    but before the streaming checkpoint commit replays the SAME
    batch_id on restart. The replay must reproduce the original rows
    byte-identically (same doc base, partition overwrite) — the old
    append-mode writes duplicated every replayed document under fresh
    doc_ids."""
    import glob
    import os

    B = str(tmp_path)
    pages = synthesize_webpages(spark, 30, partitions=2)
    pages.write.parquet(f"{B}/in")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    read = lambda: sorted(  # noqa: E731
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in spark.read.parquet(f"{B}/idx/partials_delta").collect()
    )
    before = read()
    # simulate the crash window: drop the latest commit marker so the
    # restarted stream re-invokes process_batch with the same batch_id
    commits = sorted(
        f for f in glob.glob(f"{B}/ckpt/commits/*") if not f.endswith(".crc")
    )
    os.remove(commits[-1])
    crc = f"{os.path.dirname(commits[-1])}/.{os.path.basename(commits[-1])}.crc"
    if os.path.exists(crc):  # stale checksum breaks the re-commit
        os.remove(crc)
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    assert read() == before
    dm = spark.read.parquet(f"{B}/idx/doc_map_delta")
    assert dm.count() == 30
    assert dm.select("doc_id").distinct().count() == 30


def test_compact_latest_only_upserts_by_url(spark, tmp_path):
    """latest_only compaction = the reference's upsert-by-_id: a
    re-crawled url serves ONLY its newest text; postings, doc_map, and
    stats all describe the latest corpus. Cross-checked against a
    from-scratch batch build over exactly the latest documents
    (url-keyed, since compaction keeps streamed doc_ids with gaps)."""
    import datetime

    from mecab_ko_lucene_analyzer_spark.index import build_and_write
    from mecab_ko_lucene_analyzer_spark.index.build import load_index
    from mecab_ko_lucene_analyzer_spark.sources.webpages import WEBPAGES_SCHEMA
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
    )

    B = str(tmp_path)
    ts = datetime.datetime(2026, 1, 1)

    def drop(rows, mode):
        spark.createDataFrame(
            [(u, ts, b"", t, "ko") for u, t in rows], WEBPAGES_SCHEMA
        ).write.mode(mode).parquet(f"{B}/in")

    drop([("u://a", "검색 엔진"), ("u://b", "데이터 처리")], "overwrite")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    # re-crawl of u://a (new text) + a new page, in a later batch
    drop([("u://a", "검색 시스템 문서"), ("u://c", "웹 페이지")], "append")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)

    out = compact_incremental(spark, f"{B}/idx", out_path=f"{B}/compact",
                              latest_only=True)
    doc_map = {r["url"]: r["doc_id"] for r in
               spark.read.parquet(f"{out}/doc_map").collect()}
    assert set(doc_map) == {"u://a", "u://b", "u://c"}
    assert doc_map["u://a"] >= 2  # the batch-2 arrival, not doc_id 0

    # batch build over exactly the latest corpus; compare url-keyed
    latest = spark.createDataFrame(
        [("u://a", ts, b"", "검색 시스템 문서", "ko"),
         ("u://b", ts, b"", "데이터 처리", "ko"),
         ("u://c", ts, b"", "웹 페이지", "ko")],
        WEBPAGES_SCHEMA,
    )
    build_and_write(latest, f"{B}/batch", lang_filter=None,
                    with_blocks=True, doc_order="url")

    def keyed(postings_df, url_of):
        return sorted(
            (r["term"], url_of[r["doc_id"]], r["tf"],
             bytes(r["positions"]), r["doc_len"])
            for r in postings_df.collect()
        )

    got = keyed(load_index(spark, out).postings,
                {v: k for k, v in doc_map.items()})
    batch = load_index(spark, f"{B}/batch")
    batch_map = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(f"{B}/batch/doc_map").collect()
    }
    want = keyed(batch.postings.select(
        "term", "doc_id", "tf", "positions", "doc_len"), batch_map)
    assert got == want
    # superseded terms are gone from the index AND the stats
    terms = {r["term"] for r in
             spark.read.parquet(f"{out}/term_stats").collect()}
    assert "엔진" not in terms and "시스템" in terms
    corpus = spark.read.parquet(f"{out}/corpus_stats").first()
    assert corpus["n_docs"] == 3


def test_ingest_canonicalize_urls_unifies_recrawl_keys(spark, tmp_path):
    """canonicalize=True: a re-crawl arriving under a tracking-param /
    default-port / case variant of an already-indexed url lands on the
    SAME canonical key, so latest-only compaction upserts it instead of
    indexing a phantom second page."""
    import datetime

    from mecab_ko_lucene_analyzer_spark.sources.webpages import WEBPAGES_SCHEMA
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
    )

    B = str(tmp_path)
    ts = datetime.datetime(2026, 1, 1)

    def drop(rows, mode):
        spark.createDataFrame(
            [(u, ts, b"", t, "ko") for u, t in rows], WEBPAGES_SCHEMA
        ).write.mode(mode).parquet(f"{B}/in")

    drop([("HTTPS://Site.COM:443/p?utm_source=feed&b=1", "검색 엔진")],
         "overwrite")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None,
        canonicalize=True,
    ).awaitTermination(120)
    drop([("https://site.com/p?b=1#frag", "검색 시스템")], "append")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None,
        canonicalize=True,
    ).awaitTermination(120)

    out = compact_incremental(
        spark, f"{B}/idx", out_path=f"{B}/compact", latest_only=True
    )
    doc_map = spark.read.parquet(f"{out}/doc_map").collect()
    assert [r["url"] for r in doc_map] == ["https://site.com/p?b=1"]
    terms = {r["term"] for r in
             spark.read.parquet(f"{out}/term_stats").collect()}
    assert terms and "엔진" not in terms and "시스템" in terms


def test_delete_tombstones_fold_at_compaction(spark, tmp_path):
    """mark_deleted: the ES DELETE-doc semantics — the tombstone kills
    every crawl version existing at delete time, the served stats
    describe the post-delete corpus, and a re-crawl AFTER the delete
    resurrects the url (horizon ordering), all folded in at the next
    compaction with nothing rewritten on the ingest path."""
    import datetime

    from mecab_ko_lucene_analyzer_spark.index.build import load_index
    from mecab_ko_lucene_analyzer_spark.sources.webpages import WEBPAGES_SCHEMA
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
        mark_deleted,
    )

    B = str(tmp_path)
    ts = datetime.datetime(2026, 1, 1)

    def drop(rows, mode):
        spark.createDataFrame(
            [(u, ts, b"", t, "ko") for u, t in rows], WEBPAGES_SCHEMA
        ).write.mode(mode).parquet(f"{B}/in")

    drop([("u://a", "검색 엔진"), ("u://b", "데이터 처리")], "overwrite")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)

    horizon = mark_deleted(spark, f"{B}/idx", ["u://a", "u://missing"])
    assert horizon == 2  # both batch-1 docs existed at delete time

    out1 = compact_incremental(spark, f"{B}/idx", out_path=f"{B}/c1")
    urls1 = {r["url"] for r in spark.read.parquet(f"{out1}/doc_map").collect()}
    assert urls1 == {"u://b"}  # unknown-url tombstone is a no-op
    terms1 = {r["term"] for r in
              spark.read.parquet(f"{out1}/term_stats").collect()}
    assert "엔진" not in terms1 and "데이터" in terms1
    assert spark.read.parquet(f"{out1}/corpus_stats").first()["n_docs"] == 1

    # a re-crawl AFTER the delete resurrects the url with fresh text —
    # and the PRE-delete version stays dead even without latest_only
    drop([("u://a", "검색 시스템")], "append")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    out2 = compact_incremental(spark, f"{B}/idx", out_path=f"{B}/c2")
    doc_map2 = {r["url"]: r["doc_id"] for r in
                spark.read.parquet(f"{out2}/doc_map").collect()}
    assert set(doc_map2) == {"u://a", "u://b"}
    assert doc_map2["u://a"] >= horizon  # the post-delete arrival
    terms2 = {r["term"] for r in
              spark.read.parquet(f"{out2}/term_stats").collect()}
    assert "시스템" in terms2 and "엔진" not in terms2
    # postings carry no doc_id outside the surviving doc_map
    alive = set(doc_map2.values())
    posting_docs = {r["doc_id"] for r in
                    load_index(spark, out2).postings.collect()}
    assert posting_docs == alive

    # a second delete of the (re-crawled) url takes the max horizon:
    # the resurrected version dies at the next compaction too
    mark_deleted(spark, f"{B}/idx", ["u://a"])
    out3 = compact_incremental(spark, f"{B}/idx", out_path=f"{B}/c3")
    urls3 = {r["url"] for r in spark.read.parquet(f"{out3}/doc_map").collect()}
    assert urls3 == {"u://b"}


def test_delete_cli_and_canonicalized_tombstones(spark, tmp_path, capsys, monkeypatch):
    """jobs/ingest.py delete: tombstones via the CLI, canonicalized so
    a delete issued against a tracking-param variant kills the
    canonical key the ingest path indexed."""
    import datetime
    import json as _json
    import sys

    from mecab_ko_lucene_analyzer_spark.sources.webpages import WEBPAGES_SCHEMA
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
    )

    B = str(tmp_path)
    ts = datetime.datetime(2026, 1, 1)
    spark.createDataFrame(
        [("https://site.com/p?b=1", ts, b"", "검색 엔진", "ko")],
        WEBPAGES_SCHEMA,
    ).write.parquet(f"{B}/in")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None,
        canonicalize=True,
    ).awaitTermination(120)

    import jobs.ingest as ingest_job

    monkeypatch.setattr(
        "mecab_ko_lucene_analyzer_spark.plans.get_spark", lambda **kw: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(
        sys, "argv",
        ["ingest.py", "delete", "--index", f"{B}/idx",
         "--urls", "HTTPS://Site.COM:443/p?utm_source=x&b=1",
         "--canonicalize-urls"],
    )
    ingest_job.main()
    status = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["status"] == "deleted" and status["n_urls"] == 1

    out = compact_incremental(spark, f"{B}/idx", out_path=f"{B}/compact")
    assert spark.read.parquet(f"{out}/doc_map").count() == 0
    assert spark.read.parquet(f"{out}/corpus_stats").first()["n_docs"] == 0


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_url_order_build_and_ingest_release_docid_scaffold(spark, tmp_path):
    """The url-ranked docID scaffold is persisted for its two passes
    (partials and doc_map) and released once both sinks have written:
    neither a ``doc_order="url"`` build nor a two-batch ingest leaves a
    cached copy of its ``(url, text)`` rows behind."""
    from mecab_ko_lucene_analyzer_spark.index import build_and_write

    B = str(tmp_path)
    pages = synthesize_webpages(spark, 40, partitions=2)
    before = _persistent_rdd_ids(spark)
    build_and_write(pages, f"{B}/batch", lang_filter=None, doc_order="url")
    assert _persistent_rdd_ids(spark) == before

    pages.filter(F.col("url") < "https://example-00000020").write.parquet(f"{B}/in")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    pages.filter(F.col("url") >= "https://example-00000020").write.mode(
        "append"
    ).parquet(f"{B}/in")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    assert read_incremental_postings(spark, f"{B}/idx").select(
        "doc_id"
    ).distinct().count() == 40
    assert _persistent_rdd_ids(spark) == before


def test_empty_micro_batch_writes_no_delta(spark, tmp_path):
    """A micro-batch whose every row the ``lang_filter`` drops writes no
    delta partition and leaves the doc base where it was."""
    import datetime
    import glob
    import os

    from mecab_ko_lucene_analyzer_spark.sources.webpages import WEBPAGES_SCHEMA
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        _read_doc_state,
    )

    B = str(tmp_path)
    ts = datetime.datetime(2026, 1, 1)

    def drop(rows, mode):
        spark.createDataFrame(
            [(u, ts, b"", t, lang) for u, t, lang in rows], WEBPAGES_SCHEMA
        ).write.mode(mode).parquet(f"{B}/in")

    def ingest():
        incremental_index_stream(
            spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter="ko"
        ).awaitTermination(120)

    def partitions(table):
        return sorted(
            os.path.basename(d) for d in glob.glob(f"{B}/idx/{table}/batch_id=*")
        )

    state = f"{B}/idx/_stream_state/doc_base.json"
    drop([("u://a", "검색 엔진", "ko"), ("u://b", "데이터 처리", "ko")], "overwrite")
    ingest()
    assert _read_doc_state(spark, state)["next_doc_base"] == 2
    drop([("u://c", "search engine", "en")], "append")
    ingest()
    commits = [
        f for f in glob.glob(f"{B}/ckpt/commits/*") if not f.endswith(".crc")
    ]
    assert len(commits) == 2  # the filtered-out batch did run
    assert partitions("partials_delta") == ["batch_id=0"]
    assert partitions("doc_map_delta") == ["batch_id=0"]
    st = _read_doc_state(spark, state)
    assert st["next_doc_base"] == 2 and st["last_batch_id"] == 0


def test_compact_refuses_row_format_deltas(spark, tmp_path):
    """An index holding row-format ``postings_delta`` deltas from an
    earlier ingest cannot be compacted from the partials deltas alone:
    compaction raises, naming the directory, instead of silently
    dropping those documents."""
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
    )

    B = str(tmp_path)
    synthesize_webpages(spark, 10, partitions=1).write.parquet(f"{B}/in")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    spark.createDataFrame(
        [("검색", 100, 1, bytearray(b"\x00"), 0)],
        "term string, doc_id long, tf long, positions binary, batch_id long",
    ).write.partitionBy("batch_id").parquet(f"{B}/idx/postings_delta")
    with pytest.raises(RuntimeError, match=f"{B}/idx/postings_delta"):
        compact_incremental(spark, f"{B}/idx", out_path=f"{B}/compact")


def test_compact_into_an_earlier_layout_replaces_its_row_postings(spark, tmp_path):
    """Compacting into an ``out_path`` that holds an earlier compaction
    layout's row ``postings`` removes them, so ``load_index`` serves the
    new partials instead of the stale rows."""
    from mecab_ko_lucene_analyzer_spark.index.build import load_index
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
    )

    B = str(tmp_path)
    synthesize_webpages(spark, 10, partitions=1).write.parquet(f"{B}/in")
    incremental_index_stream(
        spark, f"{B}/in", f"{B}/idx", f"{B}/ckpt", lang_filter=None
    ).awaitTermination(120)
    spark.createDataFrame(
        [("stale", 999, 1, bytearray(b"\x00"), 1)],
        "term string, doc_id long, tf int, positions binary, doc_len int",
    ).write.parquet(f"{B}/compact/postings")
    out = compact_incremental(spark, f"{B}/idx", out_path=f"{B}/compact")
    got = {r["doc_id"] for r in load_index(spark, out).postings.collect()}
    assert got == set(range(10))
