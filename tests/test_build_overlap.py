"""The fused-build stats/blocks overlap (r6 optimization) must be a
pure scheduling change: every table a fresh overlapped build writes is
row-identical to the sequential (resume-path) build, and the manifest
records the same stage set with the same counters."""

import glob
import json
import shutil
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from mecab_ko_lucene_analyzer_spark.index import build_and_write
from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

TABLES = ["partials", "term_stats", "doc_stats", "corpus_stats", "doc_map", "blocks"]


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_webpages(spark, 600, partitions=4)


def _build(spark, pages, base, monkeypatch, overlap: bool):
    monkeypatch.setenv("SPARK_GRAFT_FUSED_OVERLAP", "1" if overlap else "0")
    shutil.rmtree(base, ignore_errors=True)
    build_and_write(pages, base, lang_filter="ko", with_blocks=True, hot_min_df=30)


def test_overlapped_build_tables_identical_to_sequential(
    spark, pages, tmp_path_factory, monkeypatch
):
    seq = str(tmp_path_factory.mktemp("seq") / "idx")
    ov = str(tmp_path_factory.mktemp("ov") / "idx")
    _build(spark, pages, seq, monkeypatch, overlap=False)
    _build(spark, pages, ov, monkeypatch, overlap=True)
    for t in TABLES:
        a = sorted(map(repr, spark.read.parquet(f"{seq}/{t}").collect()))
        b = sorted(map(repr, spark.read.parquet(f"{ov}/{t}").collect()))
        assert a == b, f"table {t} differs between sequential and overlapped build"
    # both paths write term_stats term-sorted within each file (what the
    # serving df reader's one-row-group-per-file lookup relies on)
    for base in (seq, ov):
        files = glob.glob(f"{base}/term_stats/*.parquet")
        assert files
        for fn in files:
            terms = pq.read_table(fn, columns=["term"]).column("term").to_pylist()
            assert terms == sorted(terms), f"{fn} is not term-sorted"
    with open(f"{seq}/manifest.json") as f:
        ms = json.load(f)
    with open(f"{ov}/manifest.json") as f:
        mo = json.load(f)
    assert set(ms["stages"]) == set(mo["stages"]) == {"partials", "stats", "blocks"}
    for st in ("partials", "stats", "blocks"):
        cs, co = ms["stages"][st]["counters"], mo["stages"][st]["counters"]
        assert cs == co, f"stage {st} counters differ: {cs} vs {co}"


def test_overlapped_build_resumes_via_sequential_path(
    spark, pages, tmp_path_factory, monkeypatch
):
    """Dropping the stats outputs of an overlapped build must re-run
    ONLY the stats stage (through the sequential resume path — the
    overlap is fresh-build-only) and leave partials/blocks untouched."""
    base = str(tmp_path_factory.mktemp("resume") / "idx")
    _build(spark, pages, base, monkeypatch, overlap=True)
    with open(f"{base}/manifest.json") as f:
        m1 = json.load(f)
    shutil.rmtree(f"{base}/term_stats")
    del m1["stages"]["stats"]
    with open(f"{base}/manifest.json", "w") as f:
        json.dump(m1, f)
    before_blocks = sorted(
        map(repr, spark.read.parquet(f"{base}/blocks").collect())
    )
    build_and_write(pages, base, lang_filter="ko", with_blocks=True, hot_min_df=30)
    with open(f"{base}/manifest.json") as f:
        m2 = json.load(f)
    assert m2["stages"]["stats"]["status"] == "complete"
    assert m2["stages"]["partials"] == m1["stages"]["partials"]
    assert (
        sorted(map(repr, spark.read.parquet(f"{base}/blocks").collect()))
        == before_blocks
    )


def test_overlapped_stats_seconds_cover_the_term_stats_write(
    spark, pages, tmp_path_factory, monkeypatch
):
    """The overlapped path writes term_stats on a thread that can outlast
    the rest of the stats stage; the manifest's stats seconds must run
    to the end of that write."""
    delay = 5.0
    real_parquet = DataFrameWriter.parquet

    def slow_parquet(self, path, *args, **kwargs):
        if str(path).endswith("/term_stats"):
            time.sleep(delay)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", slow_parquet)
    base = str(tmp_path_factory.mktemp("slow") / "idx")
    _build(spark, pages, base, monkeypatch, overlap=True)
    with open(f"{base}/manifest.json") as f:
        stages = json.load(f)["stages"]
    assert stages["stats"]["seconds"] >= delay
