"""The stats and blocks stages run as one overlapped schedule on fresh
and resumed builds alike. A resume re-runs only the stage whose
checkpoint is missing, and every table it writes is row-identical to
the fresh build's; the manifest records the same stage set with the
same counters."""

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from mecab_ko_lucene_analyzer_spark.index import build_and_write
from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

TABLES = ["partials", "term_stats", "doc_stats", "corpus_stats", "doc_map", "blocks"]
STAGES = {"partials", "stats", "blocks"}


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_webpages(spark, 600, partitions=4)


def _build(pages, base):
    build_and_write(pages, base, lang_filter="ko", with_blocks=True, hot_min_df=30)


def _rows(spark, base, table):
    return sorted(map(repr, spark.read.parquet(f"{base}/{table}").collect()))


def _manifest(base):
    with open(f"{base}/manifest.json") as f:
        return json.load(f)


def _mtimes(base, table):
    return {f: os.path.getmtime(f) for f in glob.glob(f"{base}/{table}/*")}


@pytest.fixture(scope="module")
def fresh(spark, pages, tmp_path_factory):
    """A fresh build, its tables' rows and its manifest."""
    base = str(tmp_path_factory.mktemp("fresh") / "idx")
    _build(pages, base)
    return base, {t: _rows(spark, base, t) for t in TABLES}, _manifest(base)


def _resume_without(pages, tmp_path_factory, stage, table):
    """Build fresh, then drop ``stage``'s output directory and manifest
    entry; returns the base path and the manifest the rerun starts from."""
    base = str(tmp_path_factory.mktemp(f"no_{stage}") / "idx")
    _build(pages, base)
    m1 = _manifest(base)
    shutil.rmtree(f"{base}/{table}")
    del m1["stages"][stage]
    with open(f"{base}/manifest.json", "w") as f:
        json.dump(m1, f)
    return base, m1


def _assert_same_as_fresh(spark, base, fresh):
    _, rows, manifest = fresh
    for t in TABLES:
        assert _rows(spark, base, t) == rows[t], f"table {t} differs from the fresh build"
    stages = _manifest(base)["stages"]
    assert set(stages) == set(manifest["stages"]) == STAGES
    for st in STAGES:
        got, want = stages[st]["counters"], manifest["stages"][st]["counters"]
        assert got == want, f"stage {st} counters differ: {got} vs {want}"


def test_fresh_build_writes_term_sorted_stats(spark, fresh):
    base, rows, manifest = fresh
    assert set(manifest["stages"]) == STAGES
    assert all(rows[t] for t in TABLES)
    # term_stats is term-sorted within each file (what the serving df
    # reader's one-row-group-per-file lookup relies on)
    files = glob.glob(f"{base}/term_stats/*.parquet")
    assert files
    for fn in files:
        terms = pq.read_table(fn, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f"{fn} is not term-sorted"


def test_resume_rebuilds_only_missing_stats(spark, pages, tmp_path_factory, fresh):
    """Dropping the stats checkpoint re-runs ONLY the stats stage:
    partials and blocks are not rewritten, and the rewritten stats are
    row-identical to a fresh build's."""
    base, m1 = _resume_without(pages, tmp_path_factory, "stats", "term_stats")
    blocks_mt = _mtimes(base, "blocks")
    _build(pages, base)
    m2 = _manifest(base)
    assert m2["stages"]["stats"]["status"] == "complete"
    assert m2["stages"]["partials"] == m1["stages"]["partials"]
    assert m2["stages"]["blocks"] == m1["stages"]["blocks"]
    assert _mtimes(base, "blocks") == blocks_mt
    _assert_same_as_fresh(spark, base, fresh)


def test_resume_rebuilds_only_missing_blocks(spark, pages, tmp_path_factory, fresh):
    """Dropping only the blocks checkpoint re-runs ONLY the blocks stage
    against the term_stats and corpus_stats on disk: term_stats is not
    rewritten, and the rebuilt blocks are row-identical to a fresh
    build's."""
    base, m1 = _resume_without(pages, tmp_path_factory, "blocks", "blocks")
    stats_mt = {t: _mtimes(base, t) for t in ("term_stats", "doc_stats", "corpus_stats")}
    _build(pages, base)
    m2 = _manifest(base)
    assert m2["stages"]["blocks"]["status"] == "complete"
    assert m2["stages"]["partials"] == m1["stages"]["partials"]
    assert m2["stages"]["stats"] == m1["stages"]["stats"]
    for t, mt in stats_mt.items():
        assert _mtimes(base, t) == mt, f"{t} was rewritten"
    _assert_same_as_fresh(spark, base, fresh)


def test_overlapped_stats_seconds_cover_the_term_stats_write(
    spark, pages, tmp_path_factory, monkeypatch
):
    """term_stats is written on a background thread that can outlast
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
    _build(pages, base)
    assert _manifest(base)["stages"]["stats"]["seconds"] >= delay


def test_background_writes_carry_the_callers_job_group(spark, pages, tmp_path):
    """The doc_map and term_stats writes run on background threads that
    inherit the caller's job group: a build under ``setJobGroup`` adds
    no job to the ungrouped set. A marker job in a second group closes
    the count (the listener bus delivers job starts in order)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "build under a job group")
    try:
        _build(pages, str(tmp_path / "idx"))
        sc.setJobGroup("g-marker", "marker")
        sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup("g-marker"):
            assert time.monotonic() < deadline, "marker job never showed"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("g")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
