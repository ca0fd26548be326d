"""The serving df lookup reads term_stats straight from its parquet files
(``wand.DirectTermStatsReader``, no Spark job). It must answer exactly
what the Spark lookup ``router.term_dfs`` answers — present terms,
absent terms as df 0, duplicates, Hangul and digit terms — on every
index shape the engine serves: a fused build, a compaction opened
through ``SearchEngine.from_incremental``, and term_stats written
unsorted across several files by a foreign writer."""

import glob
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mecab_ko_lucene_analyzer_spark.analysis.dictionary import AnalyzerOption
from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
from mecab_ko_lucene_analyzer_spark.index import build_and_write
from mecab_ko_lucene_analyzer_spark.query.router import term_dfs
from mecab_ko_lucene_analyzer_spark.query.wand import DirectTermStatsReader
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
