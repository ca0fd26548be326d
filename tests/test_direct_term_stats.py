"""The serving df lookup reads term_stats straight from its parquet files
(``wand.DirectTermStatsReader``, no Spark job). It must answer exactly
what the Spark lookup ``router.term_dfs`` answers — present terms,
absent terms as df 0, duplicates, Hangul and digit terms — on every
index shape the engine serves: a fused build, a compaction opened
through ``SearchEngine.from_incremental``, and term_stats written
unsorted across several files by a foreign writer. The engine's df
memo answers a repeated lookup without the reader, and a count that
the df decides reads no block. Whatever form names the index's
location, the engine serves it the same way, with no Spark job."""

import glob
import os
import random
import shutil
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mecab_ko_lucene_analyzer_spark.analysis.dictionary import AnalyzerOption
from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
from mecab_ko_lucene_analyzer_spark.index import build_and_write
from mecab_ko_lucene_analyzer_spark.query.router import term_dfs
from mecab_ko_lucene_analyzer_spark.query.wand import DirectBlockReader, DirectTermStatsReader
from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages
from mecab_ko_lucene_analyzer_spark.streaming import incremental_index_stream
from mecab_ko_lucene_analyzer_spark.streaming.incremental import compact_incremental


@pytest.fixture(scope="module")
def fused(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("fused") / "idx")
    pages = synthesize_webpages(spark, 200, partitions=4)
    build_and_write(pages, base, lang_filter=None, with_blocks=True)
    return base


def _open(spark, kind, fused, tmp_path_factory):
    if kind == "fused":
        return SearchEngine(spark, fused, AnalyzerOption())
    if kind == "compacted":
        b = tmp_path_factory.mktemp("compacted")
        synthesize_webpages(spark, 60, partitions=2).write.parquet(f"{b}/in")
        incremental_index_stream(
            spark, f"{b}/in", f"{b}/idx", f"{b}/ckpt", lang_filter=None
        ).awaitTermination(120)
        compact_incremental(spark, f"{b}/idx")
        return SearchEngine.from_incremental(spark, f"{b}/idx")
    # foreign writer: the fused index with its term_stats rewritten
    # shuffled across three files of small row groups
    base = str(tmp_path_factory.mktemp("foreign") / "idx")
    shutil.copytree(fused, base)
    rows = [
        (r["term"], r["df"])
        for r in spark.read.parquet(f"{fused}/term_stats").collect()
    ]
    random.Random(7).shuffle(rows)
    shutil.rmtree(f"{base}/term_stats")
    os.makedirs(f"{base}/term_stats")
    for i in range(3):
        part = rows[i::3]
        pq.write_table(
            pa.table(
                {
                    "term": pa.array([t for t, _ in part], pa.string()),
                    "df": pa.array([d for _, d in part], pa.int64()),
                }
            ),
            f"{base}/term_stats/part-{i:05d}.parquet",
            row_group_size=40,
        )
    return SearchEngine(spark, base, AnalyzerOption())


def _probe(vocab: list[str]) -> list[str]:
    """Present terms (the vocabulary's ends included), Hangul and digit
    terms, absent terms below, between and above the vocabulary, and
    duplicates."""
    hangul = [t for t in vocab if any("가" <= c <= "힣" for c in t)]
    digits = [t for t in vocab if any(c.isdigit() for c in t)]
    assert hangul and digits
    absent = ["", "0", "없는용어", "검색엔진9999", "\U0010ffff", "zzzz"]
    absent = [t for t in absent if t not in set(vocab)]
    picked = [vocab[0], vocab[-1], *hangul[:: max(1, len(hangul) // 20)]]
    picked += digits[:10] + absent
    return picked + picked[:5]


@pytest.mark.parametrize("kind", ["fused", "compacted", "foreign"])
def test_direct_df_reader_equals_term_dfs(spark, fused, tmp_path_factory, kind):
    eng = _open(spark, kind, fused, tmp_path_factory)
    assert isinstance(eng._term_stats_direct, DirectTermStatsReader)
    vocab = sorted(r["term"] for r in eng.term_stats.select("term").collect())
    probe = _probe(vocab)
    want = term_dfs(eng.term_stats, probe)
    assert want[probe[-1]] > 0 and want[""] == 0
    assert eng._term_stats_direct.fetch(probe) == want
    assert eng._dfs(probe) == want
    # every term of the vocabulary, one lookup
    assert eng._dfs(vocab) == term_dfs(eng.term_stats, vocab)
    if kind != "foreign":  # the build and compaction write term-sorted files
        for fn in glob.glob(f"{eng.base_path}/term_stats/*.parquet"):
            terms = pq.read_table(fn, columns=["term"]).column("term").to_pylist()
            assert terms == sorted(terms), f"{fn} is not term-sorted"


def _keyed_table(tmp_path, name: str, rows: list, row_group_size: int) -> str:
    """``rows`` of (term, df) split over two parquet files of small row
    groups, in the order given."""
    path = tmp_path / name
    path.mkdir()
    half = len(rows) // 2
    for i, part in enumerate((rows[:half], rows[half:])):
        pq.write_table(
            pa.table({
                "term": pa.array([t for t, _ in part], pa.string()),
                "df": pa.array([d for _, d in part], pa.int64()),
            }),
            path / f"part-{i}.parquet",
            row_group_size=row_group_size,
        )
    return str(path)


def test_direct_reader_visits_only_candidate_row_groups(tmp_path, monkeypatch):
    """A lookup over many sorted row groups decodes only the row groups
    whose (min, max) range holds a wanted key — a key whose rows span
    two row groups visits both — and answers exactly what a full scan
    answers; shuffled (unsorted) files answer the same."""
    from mecab_ko_lucene_analyzer_spark.query.wand import _DirectKeyedReader

    # every third term owns two rows, so some keys span a row-group edge
    rows = []
    for i in range(600):
        rows += [(f"t{i:04d}", i)] * (1 + (i % 3 == 0))
    probe = ["t0000", "t0003", "t0150", "t0299", "t0301", "t0599", "t0450x", "a", "zz"]
    want: dict = {}
    for t, d in rows:
        if t in probe:
            want.setdefault(t, []).append(d)

    def lookup(reader):
        got: dict = {}
        for t, tbl in reader._rows(probe, ("df",)):
            got.setdefault(t, []).extend(tbl.column("df").to_pylist())
        return got

    sorted_path = _keyed_table(tmp_path, "sorted", rows, row_group_size=7)
    reader = _DirectKeyedReader(sorted_path, "term", "term_stats")
    visited = []
    real = reader._row_group
    monkeypatch.setattr(
        reader, "_row_group", lambda fid, rg, *a: visited.append((fid, rg)) or real(fid, rg, *a)
    )
    assert lookup(reader) == want
    holding = {
        (fid, rg)
        for fid, (_, ranges) in enumerate(reader._files)
        for rg, (lo, hi) in enumerate(ranges)
        if any(lo <= k <= hi for k in probe)
    }
    n_row_groups = sum(len(ranges) for _, ranges in reader._files)
    assert sorted(visited) == sorted(holding) and len(visited) < n_row_groups / 10

    shuffled = rows[:]
    random.Random(11).shuffle(shuffled)
    loose = _DirectKeyedReader(
        _keyed_table(tmp_path, "shuffled", shuffled, row_group_size=7), "term", "term_stats"
    )
    assert {t: sorted(v) for t, v in lookup(loose).items()} == want


def _count_calls(monkeypatch, cls) -> list:
    """Record the arguments of every ``cls.fetch`` call."""
    calls = []
    real = cls.fetch
    monkeypatch.setattr(
        cls, "fetch", lambda self, *a, **kw: calls.append(a) or real(self, *a, **kw)
    )
    return calls


def test_warm_repeat_reads_no_term_stats(spark, fused, monkeypatch):
    """A second identical search or count finds every df in the
    engine's df memo: it makes no ``DirectTermStatsReader.fetch`` call
    and answers what the first did."""
    eng = SearchEngine(spark, fused, AnalyzerOption())
    calls = _count_calls(monkeypatch, DirectTermStatsReader)
    texts = ["검색 엔진", "데이터", "색인 98765"]
    first = [(eng.search(t, k=10), eng.count(t)) for t in texts]
    assert calls and first[0][0] and first[0][1] > 0
    calls.clear()
    assert [(eng.search(t, k=10), eng.count(t)) for t in texts] == first
    assert calls == []


@pytest.mark.parametrize("route", ["driver", "distributed"])
def test_count_decided_by_df_fetches_no_blocks(spark, fused, monkeypatch, route):
    """On a fresh engine a single-term count is the term's df — equal
    to ``router.term_dfs`` — and a conjunctive count with an absent
    term is 0, on both routes, without a block fetch."""
    eng = SearchEngine(
        spark, fused, AnalyzerOption(), max_driver_df=1_000_000 if route == "driver" else 0
    )
    fetches = _count_calls(monkeypatch, DirectBlockReader)
    words = ["검색", "데이터", "98765"]
    want = term_dfs(eng.term_stats, words)
    assert want["검색"] > 0 and want["98765"] == 0
    for w in words:
        assert eng.count(w) == want[w]
        if want[w]:
            assert eng.last_route == route
    assert eng.count("검색 98765") == 0
    assert fetches == []


def _replies(eng) -> list:
    """``search``, ``search(conjunctive=False)`` and ``count`` replies
    over a tail and a head query, hits as ``(doc_id, score.hex(), url)``."""
    out = []
    for text in ["색인 98765", "검색 엔진", "데이터"]:
        for conj in (True, False):
            hits = eng.search(text, k=10, conjunctive=conj)
            out.append([(h["doc_id"], h["score"].hex(), h["url"]) for h in hits])
            out.append(eng.count(text, conjunctive=conj))
    return out


@pytest.mark.parametrize("form", ["abs", "file_uri", "hadoop_file", "relative", "fake_scheme"])
def test_every_path_form_serves_without_spark(spark, fused, spark_jobs, monkeypatch, form):
    """The same index opened by its absolute path, as ``file:///abs``,
    Hadoop's ``file:/abs``, a relative path, or under a made-up scheme
    whose file system the resolver supplies answers every search and
    count bit for bit as the local engine does, and runs zero Spark
    jobs from open through its first searches, counts and URL
    resolves."""
    want = _replies(SearchEngine(spark, fused, AnalyzerOption()))
    assert want[0] == [] and want[2] and want[4] and want[5] > 0  # tail, head
    if form == "relative":
        monkeypatch.chdir(os.path.dirname(fused))
    if form == "fake_scheme":
        from counting_fs import counting_fs

        import mecab_ko_lucene_analyzer_spark.fs as fs_mod

        fake, handler = counting_fs()
        monkeypatch.setattr(fs_mod, "resolve", lambda p: (fake, p[len("fake://"):]))
    path = {
        "abs": fused,
        "file_uri": f"file://{fused}",
        "hadoop_file": f"file:{fused}",
        "relative": os.path.basename(fused),
        "fake_scheme": f"fake://{fused}",
    }[form]
    got = {}

    def serve():
        got["replies"] = _replies(SearchEngine(spark, path, AnalyzerOption()))

    assert spark_jobs(serve) == 0
    assert got["replies"] == want
    if form == "fake_scheme":
        assert handler.opened and all(p.startswith(fused) for p in handler.opened)


def test_unrecognized_scheme_raises_at_open(spark):
    with pytest.raises(ValueError, match="nosuch"):
        SearchEngine(spark, "nosuch://x", AnalyzerOption())


def test_unreadable_local_files_raise_at_open(spark, fused, tmp_path):
    """A local index whose parquet cannot serve is an error at open,
    not a silent switch to Spark: a truncated doc_map part file, one
    whose footer is corrupt behind intact magic bytes, or term_stats
    files without their key column."""
    base = str(tmp_path / "truncated")
    shutil.copytree(fused, base)
    part = sorted(glob.glob(f"{base}/doc_map/*.parquet"))[-1]
    with open(part, "rb") as f:
        data = f.read()
    with open(part, "wb") as f:
        f.write(data[: len(data) // 2])
    with pytest.raises(pa.ArrowInvalid):
        SearchEngine(spark, base, AnalyzerOption())

    base = str(tmp_path / "corrupt_footer")
    shutil.copytree(fused, base)
    part = sorted(glob.glob(f"{base}/doc_map/*.parquet"))[-1]
    with open(part, "rb") as f:
        data = bytearray(f.read())
    # layout: ... footer | footer length (4 bytes LE) | b"PAR1"
    assert data[-4:] == b"PAR1"
    n = struct.unpack("<I", data[-8:-4])[0]
    data[-8 - n : -8] = b"\xff" * n
    with open(part, "wb") as f:
        f.write(data)
    with pytest.raises(OSError):
        SearchEngine(spark, base, AnalyzerOption())

    base = str(tmp_path / "keyless")
    shutil.copytree(fused, base)
    shutil.rmtree(f"{base}/term_stats")
    os.makedirs(f"{base}/term_stats")
    pq.write_table(
        pa.table({"word": ["검색"], "df": pa.array([3], pa.int64())}),
        f"{base}/term_stats/part-00000.parquet",
    )
    with pytest.raises(ValueError, match="no 'term' column"):
        SearchEngine(spark, base, AnalyzerOption())
