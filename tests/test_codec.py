"""Property tests for the varint/delta posting codec (FIXTURES.md §F4:
decode(encode(x)) == x, plus golden byte checks)."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mecab_ko_lucene_analyzer_spark.index.codec import (
    decode_block,
    decode_varints,
    encode_block,
    encode_varints,
)


def test_varint_golden_bytes():
    # LEB128 spot checks
    assert encode_varints(np.array([0])) == b"\x00"
    assert encode_varints(np.array([1])) == b"\x01"
    assert encode_varints(np.array([127])) == b"\x7f"
    assert encode_varints(np.array([128])) == b"\x80\x01"
    assert encode_varints(np.array([300])) == b"\xac\x02"
    assert encode_varints(np.array([])) == b""
    assert list(decode_varints(b"\xac\x02\x7f\x00")) == [300, 127, 0]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=500)
)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert list(decode_varints(encode_varints(arr))) == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),  # doc gap seed
            st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=20),
        ),
        min_size=1,
        max_size=128,
    )
)
def test_block_roundtrip(rows):
    doc_ids = np.cumsum([r[0] + 1 for r in rows]).astype(np.uint64)
    positions = [np.cumsum(np.array(r[1], dtype=np.uint64) + 1) for r in rows]
    tfs = np.array([len(p) for p in positions], dtype=np.uint64)
    enc = encode_block(doc_ids, tfs, positions)
    docs2, tfs2, pos2 = decode_block(*enc)
    assert list(docs2) == list(doc_ids)
    assert list(tfs2) == list(tfs)
    assert len(pos2) == len(positions)
    for a, b in zip(pos2, positions):
        assert list(a) == list(b)


def test_compression_is_effective():
    # dense doc ids → ~1 byte per doc
    docs = np.arange(0, 128, dtype=np.uint64) + 10**9
    tfs = np.ones(128, dtype=np.uint64)
    pos = [np.array([5], dtype=np.uint64)] * 128
    dd, tt, pp = encode_block(docs, tfs, pos)
    assert len(dd) <= 128 + 5  # first doc absolute, then 1-byte deltas
    assert len(tt) == 128
    assert len(pp) == 128


def test_binary_row_slices_respects_byte_budget():
    """Emitters must chunk Arrow binary output so no slice's payload
    exceeds the budget (the int32-offset ceiling guard at scale)."""
    from mecab_ko_lucene_analyzer_spark.index.blocks import (
        _binary_row_slices,
        _pa_binary,
    )

    # 6 rows with payload sizes 4,4,4,4,4,4 → budget 10 forces ≤2 rows
    bounds = np.arange(0, 28, 4, dtype=np.int64)
    slices = list(_binary_row_slices((bounds,), 6, max_bytes=10))
    assert slices == [(0, 2), (2, 4), (4, 6)]
    # a second, tighter column dominates the split
    tight = np.arange(0, 70, 10, dtype=np.int64)
    slices = list(_binary_row_slices((bounds, tight), 6, max_bytes=20))
    assert all(hi - lo <= 2 for lo, hi in slices)
    assert [lo for lo, _ in slices] + [slices[-1][1]] == sorted(
        {lo for lo, _ in slices} | {hi for _, hi in slices}
    )
    # single oversize row never stalls (advances one row; _pa_binary
    # raises loudly for it rather than wrapping offsets)
    big = np.array([0, 50], dtype=np.int64)
    assert list(_binary_row_slices((big,), 1, max_bytes=10)) == [(0, 1)]
    # fast path: everything under budget → one full range
    assert list(_binary_row_slices((bounds,), 6, max_bytes=1 << 30)) == [(0, 6)]
    # empty input → no slices
    assert list(_binary_row_slices((np.zeros(1, dtype=np.int64),), 0)) == []

    # rebased slice construction: bytes round-trip per slice
    data = np.frombuffer(b"aaaabbbbccccddddeeeeffff", dtype=np.uint8)
    arr = _pa_binary(data, bounds[2:5])  # rows 2..3 of the original
    assert arr.to_pylist() == [b"cccc", b"dddd"]

    # the int32 ceiling raises instead of silently wrapping
    import pytest

    huge = np.array([0, 2**31], dtype=np.int64)
    with pytest.raises(ValueError, match="2 GiB"):
        _pa_binary(np.empty(0, dtype=np.uint8), huge)


def test_pack_stage_multi_slice_emission_direct(monkeypatch):
    """Driver-side (no Spark) check that the pack stage REALLY splits
    its output under a small byte budget and that the union of slices
    decodes identically to the single-batch emission."""
    import pyarrow as pa

    import mecab_ko_lucene_analyzer_spark.index.blocks as blocks_mod
    from mecab_ko_lucene_analyzer_spark.index.blocks import _pack_stage_arrow

    n = 200
    batch = pa.RecordBatch.from_pydict(
        {
            "term": [f"t{i % 7}" for i in range(n)],
            "doc_id": list(range(n)),
            "tf": [1 + i % 3 for i in range(n)],
            "doc_len": [10] * n,
            "positions": [bytes([i % 120]) for i in range(n)],
        },
        schema=pa.schema(
            [
                ("term", pa.string()),
                ("doc_id", pa.int64()),
                ("tf", pa.int64()),
                ("doc_len", pa.int64()),
                ("positions", pa.binary()),
            ]
        ),
    )
    pack = _pack_stage_arrow
    single = list(pack(iter([batch])))
    assert len(single) == 1

    orig = blocks_mod._binary_row_slices
    monkeypatch.setattr(
        blocks_mod,
        "_binary_row_slices",
        lambda b, r, max_bytes=1 << 30: orig(b, r, max_bytes=16),
    )
    sliced = list(pack(iter([batch])))
    assert len(sliced) > 1  # the budget genuinely engaged
    merged = pa.Table.from_batches(sliced)
    base = pa.Table.from_batches(single)
    assert merged.to_pylist() == base.to_pylist()


@pytest.mark.parametrize("block_size", [2, 3, 128])
@pytest.mark.parametrize("seed", range(4))
def test_shared_encoder_decoder_roundtrip(block_size, seed):
    """decode_partials(encode_blocks(x)) == x for the one block codec
    (no Spark): docIDs above 2^33, tf up to 300, position gaps above
    2^21, and per-doc position byte bounds equal to the encoded
    lengths."""
    from mecab_ko_lucene_analyzer_spark.index.blocks import (
        PARTIAL_SCHEMA,
        _emit,
        decode_partials,
        encode_blocks,
    )

    rng = np.random.default_rng(seed)
    docs, tfs, dls, positions, run_start = [], [], [], [], []
    for _ in range(rng.integers(1, 12)):
        n_run = int(rng.integers(1, 300))
        run_docs = (2**33 + rng.integers(0, 2**20)) + np.cumsum(
            rng.integers(1, 2**25, size=n_run)
        )
        for i, d in enumerate(run_docs):
            tf = int(rng.integers(1, 301))
            gaps = rng.integers(0, 2**23, size=tf)
            gaps[rng.random(tf) < 0.5] = rng.integers(0, 4)
            docs.append(int(d))
            tfs.append(tf)
            dls.append(int(rng.integers(tf, 10**6)))
            positions.append(encode_varints(gaps.astype(np.uint64)))
            run_start.append(i == 0)
    docs = np.array(docs, dtype=np.int64)
    tfs = np.array(tfs, dtype=np.uint64)
    dls = np.array(dls, dtype=np.uint64)
    pos_lens = np.array([len(p) for p in positions], dtype=np.int64)
    run_start = np.array(run_start)
    pos_data = np.frombuffer(b"".join(positions), dtype=np.uint8)

    starts, sizes, payload = encode_blocks(
        run_start, docs, tfs, dls, pos_data, pos_lens, block_size=block_size
    )
    # every run cut into block_size-doc blocks, its last one shorter
    heads = np.flatnonzero(run_start)
    tails = np.append(heads[1:], len(docs))
    want = np.concatenate(
        [np.arange(lo, hi, block_size) for lo, hi in zip(heads, tails)]
    )
    assert np.array_equal(starts, want)
    batches = list(
        _emit(
            PARTIAL_SCHEMA.fieldNames(),
            [
                pa.array(["t"] * len(starts)),
                np.zeros(len(starts), dtype=np.int64),
                docs[starts],
                sizes.astype(np.int32),
                *payload,
            ],
        )
    )
    got = {k: [] for k in ("row", "docs", "tfs", "dls", "pos_lens", "pos")}
    n_rows = 0
    for batch in batches:
        row, d, t, dl, pdata, pbounds = decode_partials(batch)
        for k, v in zip(got, (row + n_rows, d, t, dl, np.diff(pbounds))):
            got[k].append(v)
        got["pos"] += [bytes(pdata[lo:hi]) for lo, hi in zip(pbounds, pbounds[1:])]
        n_rows += batch.num_rows
    block_of_doc = np.repeat(np.arange(len(starts)), sizes)
    assert np.array_equal(np.concatenate(got["row"]), block_of_doc)
    assert np.array_equal(np.concatenate(got["docs"]), docs)
    assert np.array_equal(np.concatenate(got["tfs"]), tfs)
    assert np.array_equal(np.concatenate(got["dls"]), dls)
    assert np.array_equal(np.concatenate(got["pos_lens"]), pos_lens)
    assert got["pos"] == positions


def test_reblock_interleaved_partials_equal_reference():
    """Partials of one term whose doc ranges interleave take the Arrow
    re-blocker's sort-and-gather path; its block rows must equal the
    pandas reference stage's, byte for byte (no Spark)."""
    from block_reference import _reblock_stage

    from mecab_ko_lucene_analyzer_spark.index.blocks import (
        _reblock_stage_arrow,
        pack_partials,
    )
    from mecab_ko_lucene_analyzer_spark.index.build import B, K1

    rng = np.random.default_rng(5)
    docs = np.sort(rng.choice(10**6, size=500, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, size=len(docs))
    positions = [encode_varints(rng.integers(0, 300, size=t)) for t in tfs]
    codes = rng.integers(0, 2, size=len(docs))
    batches = []
    for sel in (slice(0, None, 2), slice(1, None, 2)):  # even / odd docs
        pos = positions[sel]
        batches += pack_partials(
            pa.array(["t", "u"]),
            codes[sel],
            docs[sel],
            tfs[sel],
            tfs[sel] + 7,
            np.frombuffer(b"".join(pos), dtype=np.uint8),
            np.array([len(p) for p in pos]),
        )
    arranged = (
        pa.Table.from_batches(batches)
        .sort_by([("term", "ascending"), ("first_doc", "ascending")])
        .combine_chunks()
    )
    got = pa.Table.from_batches(
        list(_reblock_stage_arrow(9.5)(iter(arranged.to_batches())))
    ).to_pylist()
    want = [
        r
        for pdf in _reblock_stage(9.5, K1, B, 128)(iter([arranged.to_pandas()]))
        for r in pdf.to_dict("records")
    ]
    assert len(got) == len(want) > 2
    assert got == want
