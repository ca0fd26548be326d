"""The build's driver-side footer count and corpus_stats write reach a
table through ``fs.resolve`` in every form a caller may name a local
path: absolute, ``file:///abs``, Hadoop's ``file:/abs`` and relative.
A scheme pyarrow cannot open takes the Spark count."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mecab_ko_lucene_analyzer_spark.index import build

FORMS = ["abs", "file_uri", "hadoop_file", "relative"]


def _named(form: str, path: str, monkeypatch) -> str:
    if form == "relative":
        monkeypatch.chdir(os.path.dirname(path))
        return os.path.basename(path)
    return {"abs": path, "file_uri": f"file://{path}", "hadoop_file": f"file:{path}"}[form]


@pytest.mark.parametrize("form", FORMS)
def test_footer_row_count_reads_every_local_form(tmp_path, monkeypatch, spark_jobs, form):
    table = tmp_path / "blocks"
    table.mkdir()
    pq.write_table(pa.table({"term": ["a", "b", "c"]}), table / "part-00000.parquet")
    pq.write_table(pa.table({"term": ["d", "e"]}), table / "part-00001.parquet")
    (table / "_SUCCESS").touch()
    path = _named(form, str(table), monkeypatch)
    got = {}
    assert spark_jobs(lambda: got.setdefault("n", build._footer_row_count(None, path, "blocks"))) == 0
    assert got["n"] == 5


@pytest.mark.parametrize("form", FORMS)
def test_corpus_stats_written_where_named(tmp_path, monkeypatch, spark_jobs, form):
    (tmp_path / "idx").mkdir()
    target = tmp_path / "idx" / "corpus_stats"
    path = _named(form, str(target), monkeypatch)
    for n_docs in (7, 9):  # the second write overwrites the first
        assert spark_jobs(lambda: build._write_corpus_stats(None, path, n_docs, 2.5)) == 0
    assert sorted(os.listdir(target)) == ["_SUCCESS", "part-00000.parquet"]
    assert pq.read_table(target).to_pylist() == [{"n_docs": 9, "avgdl": 2.5}]


def test_hadoop_only_scheme_takes_the_spark_count(monkeypatch):
    calls = []

    class _Table:
        def count(self):
            return 42

    monkeypatch.setattr(
        build, "_read_stage_table", lambda spark, base, name: calls.append((base, name)) or _Table()
    )
    assert build._footer_row_count(None, "s3a://bucket/idx/blocks", "blocks") == 42
    assert calls == [("s3a://bucket/idx", "blocks")]
