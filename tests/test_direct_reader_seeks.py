"""The direct readers seek each key once: a lookup compares a key with
the few row-group ranges that can hold it, found by bisecting the
footer ranges sorted at open, so it costs the same whether the table
is one file or many. For each of the three readers, the same keys over
the same rows — written as one file and as 64 files — examine the same
number of ranges and answer the same. Through any file system the path
resolves to, a reader opens each parquet part once, at open, and no
file while it answers lookups."""

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mecab_ko_lucene_analyzer_spark.query.wand import (
    DirectBlockReader,
    DirectDocMapReader,
    DirectTermStatsReader,
    _DirectKeyedReader,
)

N_KEYS = 640


def _write(path, table: pa.Table, n_files: int, cuts: list[int]) -> str:
    """``table`` as ``n_files`` files of one row group each, cut at the
    given row offsets (``cuts`` holds ``n_files - 1`` of them)."""
    path.mkdir()
    bounds = [0, *cuts, table.num_rows]
    assert len(bounds) == n_files + 1
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, path / f"part-{i:05d}.parquet", row_group_size=1 << 20)
    return str(path)


def _terms() -> list[str]:
    """``N_KEYS`` distinct Hangul and ASCII terms, sorted."""
    words = ("검색", "데이터", "t")
    return sorted(f"{words[i % 3]}{i:04d}" for i in range(N_KEYS))


def _doc_map() -> tuple[pa.Table, list[int]]:
    ids = list(range(N_KEYS))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "url": [f"https://example-{i:05d}.kr/" for i in ids],
    }), [N_KEYS * i // 64 for i in range(1, 64)]


def _term_stats() -> tuple[pa.Table, list[int]]:
    terms = _terms()
    return pa.table({
        "term": pa.array(terms, pa.string()),
        "df": pa.array([len(t) + i for i, t in enumerate(terms)], pa.int64()),
    }), [N_KEYS * i // 64 for i in range(1, 64)]


def _blocks() -> tuple[pa.Table, list[int]]:
    """One to three block rows per term, cut between terms."""
    rows, starts = [], []
    for i, t in enumerate(_terms()):
        starts.append(len(rows))
        for b in range(1 + i % 3):
            rows.append((t, 128 * b, 5, bytes([b, 1, 2]), b"\x01" * 5, b"\x07" * 5, 0.5 + b))
    cols = list(zip(*rows))
    table = pa.table({
        "term": pa.array(cols[0], pa.string()),
        "first_doc": pa.array(cols[1], pa.int64()),
        "n_docs": pa.array(cols[2], pa.int64()),
        "doc_deltas": pa.array(cols[3], pa.binary()),
        "tfs": pa.array(cols[4], pa.binary()),
        "doc_lens": pa.array(cols[5], pa.binary()),
        "block_max_impact": pa.array(cols[6], pa.float64()),
        "pos_deltas": pa.array([b"\x00"] * len(rows), pa.binary()),
    })
    return table, [starts[N_KEYS * i // 64] for i in range(1, 64)]


CASES = {
    "doc_map": (_doc_map, DirectDocMapReader),
    "term_stats": (_term_stats, DirectTermStatsReader),
    "blocks": (_blocks, DirectBlockReader),
}


def _payloads(fetched):
    return {
        t: (df, sorted((b.first_doc, b.doc_deltas, b.tfs, b.doc_lens, b.max_impact) for b in blks))
        for t, (blks, df) in fetched.items()
    }


@pytest.mark.parametrize("kind", sorted(CASES))
def test_one_file_and_64_files_examine_the_same_ranges(tmp_path, kind):
    make, reader_cls = CASES[kind]
    table, cuts = make()
    one = reader_cls(_write(tmp_path / "one", table, 1, []))
    many = reader_cls(_write(tmp_path / "many", table, 64, cuts))
    assert len(many._where) == 64
    keys = sorted(set(table.column(0).to_pylist()))
    rng = random.Random(5)
    for n in (1, 3, 10, 40):
        want = rng.sample(keys, n)
        one.ranges_examined = many.ranges_examined = 0
        got_one, got_many = one.fetch(want), many.fetch(want)
        if kind == "blocks":
            got_one, got_many = _payloads(got_one), _payloads(got_many)
        assert got_one == got_many and len(got_one) == n
        # one seek per key, whatever the file count
        assert one.ranges_examined == many.ranges_examined == n
    # absent keys, below, between and above the present ones
    absent = [-1, N_KEYS + 5] if kind == "doc_map" else ["", "검색0001x", "\U0010ffff"]
    probe = absent + keys[::97]
    a, b = one.fetch(probe), many.fetch(probe)
    if kind == "blocks":
        a, b = _payloads(a), _payloads(b)
    assert a == b


def test_overlapping_ranges_examine_only_candidates(tmp_path):
    """Files that each span the whole key range (term_stats files of a
    fused build) leave every file a candidate for a key inside all the
    ranges, only the files whose range starts at or before a key near
    the low end, and none for a key outside every range."""
    table, _ = _term_stats()
    path = tmp_path / "spread"
    path.mkdir()
    for i in range(4):
        pq.write_table(table.take(list(range(i, N_KEYS, 4))), path / f"part-{i}.parquet")
    reader = DirectTermStatsReader(str(path))
    terms = table.column("term").to_pylist()
    dfs = dict(zip(terms, table.column("df").to_pylist()))
    middle = [terms[300], terms[301]]
    assert reader.fetch(middle) == {t: dfs[t] for t in middle}
    assert reader.ranges_examined == 2 * 4
    reader.ranges_examined = 0
    assert reader.fetch([terms[0], terms[1]]) == {t: dfs[t] for t in terms[:2]}
    assert reader.ranges_examined == 1 + 2
    reader.ranges_examined = 0
    assert reader.fetch(["", "\U0010ffff"]) == {"": 0, "\U0010ffff": 0}
    assert reader.ranges_examined == 0


def test_one_value_lookup_fetches_each_row_group_once(tmp_path):
    """A one-value lookup takes each candidate row group from the
    reader's cache once per call, however many wanted keys it holds,
    and keeps it there as a key → value dict."""
    table, cuts = _doc_map()
    reader = DirectDocMapReader(_write(tmp_path / "dm", table, 64, cuts))
    calls = []
    real = reader._row_group
    reader._row_group = lambda fid, rg, *a: calls.append((fid, rg)) or real(fid, rg, *a)
    ids = list(range(0, 40)) + [N_KEYS - 1]
    got = reader.fetch(ids)
    assert got == {i: f"https://example-{i:05d}.kr/" for i in ids}
    assert sorted(calls) == sorted(set(calls)) and len(calls) == 5  # ids 0..39 span 4 files
    (payload, _), = [v for k, v in reader._rg_cache.items() if k[:2] == calls[0]]
    assert isinstance(payload, dict)


def test_unpruned_row_groups_are_candidates_for_every_key(tmp_path):
    """A row group without statistics is read for every lookup."""
    table, _ = _term_stats()
    path = tmp_path / "nostats"
    path.mkdir()
    pq.write_table(table.slice(0, 320), path / "a.parquet", write_statistics=False)
    pq.write_table(table.slice(320), path / "b.parquet")
    reader = _DirectKeyedReader(str(path), "term", "term_stats")
    terms = table.column("term").to_pylist()
    want = [terms[3], terms[500]]
    assert reader._values(want, "df") == {t: table.column("df")[terms.index(t)].as_py() for t in want}
    # terms[3]: the unpruned group only (the second file starts past
    # it); terms[500]: the second file's range and the unpruned group
    assert reader.ranges_examined == 1 + 2


def _through_counting_fs(monkeypatch):
    """Route every path the readers resolve through a counting file
    system over the local one; returns its handler."""
    from counting_fs import counting_fs

    import mecab_ko_lucene_analyzer_spark.fs as fs_mod

    fs, handler = counting_fs()
    monkeypatch.setattr(fs_mod, "resolve", lambda path: (fs, path))
    return handler


@pytest.mark.parametrize("kind", sorted(CASES))
def test_reader_opens_each_part_once_at_open(tmp_path, monkeypatch, kind):
    """A keyed reader opens each parquet part once, at open — never a
    writer's ``_SUCCESS`` or ``.crc`` file — and opens no file during
    200 lookups, which answer what a local reader answers."""
    make, reader_cls = CASES[kind]
    table, cuts = make()
    path = _write(tmp_path / "t", table, 64, cuts)
    (tmp_path / "t" / "_SUCCESS").touch()
    (tmp_path / "t" / ".part-00000.parquet.crc").touch()
    local = reader_cls(path)
    handler = _through_counting_fs(monkeypatch)
    reader = reader_cls(path)
    parts = sorted(str(p) for p in (tmp_path / "t").glob("part-*.parquet"))
    assert sorted(handler.opened) == parts
    handler.opened.clear()
    keys = sorted(set(table.column(0).to_pylist()))
    rng = random.Random(3)
    for _ in range(200):
        want = rng.sample(keys, 3)
        got, ref = reader.fetch(want), local.fetch(want)
        if kind == "blocks":
            got, ref = _payloads(got), _payloads(ref)
        assert got == ref and len(got) == 3
    assert handler.opened == []


def test_missing_and_empty_directories(tmp_path, monkeypatch):
    """A missing table directory raises ``FileNotFoundError`` at open;
    an existing one with no row groups (a writer's empty part file)
    gives a reader that answers nothing."""
    handler = _through_counting_fs(monkeypatch)
    with pytest.raises(FileNotFoundError):
        DirectTermStatsReader(str(tmp_path / "missing"))
    probes = {"doc_map": [0, 7], "term_stats": ["검색"], "blocks": ["검색"]}
    answers = {"doc_map": {}, "term_stats": {"검색": 0}, "blocks": {}}
    for kind, (make, reader_cls) in sorted(CASES.items()):
        empty = tmp_path / kind
        empty.mkdir()
        (empty / "_SUCCESS").touch()
        pq.ParquetWriter(empty / "part-00000.parquet", make()[0].schema).close()
        assert pq.ParquetFile(empty / "part-00000.parquet").metadata.num_row_groups == 0
        assert reader_cls(str(empty)).fetch(probes[kind]) == answers[kind]
        assert handler.opened[-1] == str(empty / "part-00000.parquet")
