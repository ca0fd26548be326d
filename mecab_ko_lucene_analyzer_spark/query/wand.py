"""Block-max WAND top-k over compressed postings (I7 query path).

The low-latency counterpart to the distributed scatter-gather scorer
(``bm25.py``): query terms are few, so their block lists are fetched
with a term-pruned scan (``blocks.filter(term IN ...)``) and scored on
the driver document-at-a-time with block-max skipping (WAND, Broder et
al. 2003; block-max refinement, Ding & Suel 2011). Both engines must be
rank-identical to the brute-force oracle — tested.

Tie-break: score desc, doc_id asc. WAND scores candidates in ascending
docID order, so on equal scores the earlier (smaller) docID stays in
the heap — matching the oracle's deterministic sort.
"""

from __future__ import annotations

import bisect
import heapq
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..index.build import B, K1
from ..index.codec import decode_varints
from .bm25 import lucene_idf

__all__ = [
    "TermCursor",
    "wand_topk",
    "load_query_cursors",
    "fetch_term_blocks",
    "BlockCache",
    "DirectBlockReader",
    "DirectDocMapReader",
    "DirectTermStatsReader",
]

_INF = 1 << 62


@dataclass
class _Block:
    first_doc: int
    doc_deltas: bytes
    tfs: bytes
    doc_lens: bytes
    max_impact: float
    pos_deltas: bytes = b""


@dataclass
class TermCursor:
    """Posting-list iterator over compressed blocks with skipping.
    Blocks decode lazily — a skipped block is never decompressed."""

    term: str
    idf: float
    blocks: list[_Block]
    k1: float = K1
    b: float = B
    avgdl: float = 1.0
    _bi: int = -1
    _docs: np.ndarray | None = None
    _tfs: np.ndarray | None = None
    _dls: np.ndarray | None = None
    _positions: list | None = None
    _pos: int = 0
    cur_doc: int = _INF
    _firsts: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int64))

    def __post_init__(self):
        self.blocks.sort(key=lambda blk: blk.first_doc)
        self._firsts = np.array([blk.first_doc for blk in self.blocks], dtype=np.int64)
        self.max_impact = max((blk.max_impact for blk in self.blocks), default=0.0)
        self._open(0)

    @property
    def ub(self) -> float:
        return self.idf * self.max_impact

    def block_ub(self) -> float:
        if self._bi >= len(self.blocks):
            return 0.0
        return self.idf * self.blocks[self._bi].max_impact

    def block_last_doc(self) -> int:
        if self._docs is None:
            return _INF
        return int(self._docs[-1])

    def _block_index_for(self, doc: int) -> int:
        """Index of the only block that can contain ``doc`` (may be the
        cursor's current or a later block); does NOT move the cursor."""
        bi = int(np.searchsorted(self._firsts, doc, side="right")) - 1
        return max(bi, self._bi)

    def block_ub_for(self, doc: int) -> float:
        """Score upper bound for ``doc`` from block-max metadata only —
        the bound of the block whose range covers ``doc`` (safe
        overestimate when ``doc`` falls between blocks)."""
        bi = self._block_index_for(doc)
        if bi >= len(self.blocks):
            return 0.0
        return self.idf * self.blocks[bi].max_impact

    def block_boundary_for(self, doc: int) -> int:
        """Last docID for which :meth:`block_ub_for`'s bound stays valid:
        the end of the covering block's range (next block's first - 1).
        Past the final block the term contributes 0 ≤ the bound forever,
        so the boundary is +INF."""
        bi = self._block_index_for(doc)
        if bi + 1 < len(self.blocks):
            return int(self._firsts[bi + 1]) - 1
        return _INF

    def _open(self, bi: int) -> None:
        if bi >= len(self.blocks):
            self._bi = len(self.blocks)
            self._docs = None
            self.cur_doc = _INF
            return
        blk = self.blocks[bi]
        self._bi = bi
        self._docs = np.cumsum(decode_varints(blk.doc_deltas).astype(np.int64))
        self._tfs = decode_varints(blk.tfs).astype(np.int64)
        self._dls = decode_varints(blk.doc_lens).astype(np.int64)
        self._positions = None  # decoded on demand (phrase queries only)
        self._pos = 0
        self.cur_doc = int(self._docs[0])

    def positions_current(self) -> np.ndarray:
        """Positions of the current doc (lazy per-block decode)."""
        if self._positions is None:
            flat = decode_varints(self.blocks[self._bi].pos_deltas).astype(np.int64)
            bounds = np.cumsum(self._tfs)
            self._positions = []
            start = 0
            for end in bounds:
                self._positions.append(np.cumsum(flat[start:end]))
                start = int(end)
        return self._positions[self._pos]

    def advance(self) -> None:
        self._pos += 1
        if self._docs is not None and self._pos < len(self._docs):
            self.cur_doc = int(self._docs[self._pos])
        else:
            self._open(self._bi + 1)

    def next_geq(self, target: int) -> None:
        if self.cur_doc >= target:
            return
        bi = int(np.searchsorted(self._firsts, target, side="right")) - 1
        if bi > self._bi:
            self._open(bi)
        while self._bi < len(self.blocks):
            assert self._docs is not None
            if int(self._docs[-1]) >= target:
                self._pos = int(np.searchsorted(self._docs, target, side="left"))
                self.cur_doc = int(self._docs[self._pos])
                return
            self._open(self._bi + 1)

    def score_current(self) -> float:
        tf = float(self._tfs[self._pos])
        dl = float(self._dls[self._pos])
        return self.idf * tf / (tf + self.k1 * (1 - self.b + self.b * dl / self.avgdl))

    def exhausted(self) -> bool:
        return self.cur_doc >= _INF


def fetch_term_blocks(
    blocks: DataFrame,
    query_terms: list[str],
    with_positions: bool = False,
) -> dict[str, tuple[list[_Block], int]]:
    """ONE term-pruned scan → per-term block lists + df.

    ``df`` needs no stats lookup: it equals the sum of ``n_docs`` over a
    term's blocks (every posting lives in exactly one block), so the
    whole query needs a single Spark job. ``with_positions`` adds the
    position-delta column (phrase queries only)."""
    terms = sorted(set(query_terms))
    cols = [
        "term", "first_doc", "n_docs", "doc_deltas", "tfs", "doc_lens",
        "block_max_impact",
    ]
    if with_positions:
        cols.append("pos_deltas")
    rows = blocks.filter(F.col("term").isin(terms)).select(*cols).collect()
    out: dict[str, tuple[list[_Block], int]] = {}
    for r in rows:
        blks, df = out.get(r["term"], ([], 0))
        blks.append(
            _Block(
                r["first_doc"],
                bytes(r["doc_deltas"]),
                bytes(r["tfs"]),
                bytes(r["doc_lens"]),
                r["block_max_impact"],
                bytes(r["pos_deltas"]) if with_positions else b"",
            )
        )
        out[r["term"]] = (blks, df + r["n_docs"])
    return out


def _footer_index(path: str, stats_col: str, what: str) -> list:
    """Shared scaffold for the direct (no-Spark-job) parquet readers:
    open every file under ``path`` and load per-row-group (min, max)
    statistics of ``stats_col`` from the footers (a few KB per file).
    Returns ``[(ParquetFile, [(min, max) per row group]), ...]``;
    row groups without usable stats get ``(None, None)`` (always
    read). Raises when the directory holds no parquet files."""
    import glob as _glob

    import pyarrow.parquet as pq

    files = []
    for fn in sorted(_glob.glob(f"{path.rstrip('/')}/*.parquet")):
        pf = pq.ParquetFile(fn)
        if pf.metadata.num_row_groups == 0:
            continue
        rg0 = pf.metadata.row_group(0)
        col_idx = next(
            i
            for i in range(rg0.num_columns)
            if rg0.column(i).path_in_schema == stats_col
        )
        ranges = []
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(col_idx).statistics
            if st is None or not st.has_min_max:
                ranges.append((None, None))  # unprunable: always read
            else:
                ranges.append((st.min, st.max))
        files.append((pf, ranges))
    if not files:
        raise ValueError(f"no local parquet {what} files under {path!r}")
    return files


class _DirectKeyedReader:
    """Point lookups by ``key`` straight from a parquet table via Arrow
    — NO Spark job. Footer (min, max) statistics of ``key`` prune each
    lookup to the row groups whose range can hold a wanted key; each
    such row group decodes once into a byte-bounded LRU cache (a
    10^12-doc table can't accrete unboundedly on one serving node) and
    answers later lookups with a binary search over its keys. A row
    group whose keys are not sorted (a foreign writer) is sorted once
    as it decodes — a stable sort, so a key's rows keep their file
    order: still exact, it just prunes less. A key may own several
    rows (a term's blocks). Lookups are per key, not vectorized: a
    serving request asks for a handful of keys, where numpy's per-call
    overhead would dominate."""

    #: decoded bytes kept per reader (Arrow buffers plus a rough
    #: per-key cost of the Python key list)
    cache_bytes = 256 << 20

    def __init__(self, path: str, key: str, what: str):
        from collections import OrderedDict

        self._files = _footer_index(path, key, what)
        self._key = key
        self._rg_cache: "OrderedDict[tuple, tuple[list, object, int]]" = OrderedDict()
        self._rg_bytes = 0

    def _row_group(self, fid: int, rgid: int, columns: tuple) -> tuple[list, object, int]:
        """(sorted keys, Arrow table of ``columns`` in key order, cached
        bytes) of one row group, from the cache or decoded once."""
        import pyarrow.compute as pc

        ck = (fid, rgid, columns)
        ent = self._rg_cache.get(ck)
        if ent is not None:
            self._rg_cache.move_to_end(ck)
            return ent
        tbl = self._files[fid][0].read_row_groups([rgid], columns=[self._key, *columns])
        keys = tbl.column(self._key)
        n = tbl.num_rows
        if n > 1 and not pc.all(
            pc.less_equal(keys.slice(0, n - 1), keys.slice(1))
        ).as_py():
            tbl = tbl.take(pc.sort_indices(keys))
        vals = tbl.select(list(columns))
        ent = (tbl.column(self._key).to_pylist(), vals, vals.nbytes + 64 * n)
        while self._rg_cache and self._rg_bytes + ent[2] > self.cache_bytes:
            self._rg_bytes -= self._rg_cache.popitem(last=False)[1][2]
        self._rg_cache[ck] = ent
        self._rg_bytes += ent[2]
        return ent

    def _rows(self, keys, columns: tuple):
        """Yield ``(key, Arrow table of its rows)`` for every wanted key
        present, row groups in file order."""
        want = sorted(set(keys))
        if not want:
            return
        for fid, (_, ranges) in enumerate(self._files):
            for rgid, (lo, hi) in enumerate(ranges):
                sel = want if lo is None else [k for k in want if lo <= k <= hi]
                if not sel:
                    continue
                rg_keys, tbl, _ = self._row_group(fid, rgid, columns)
                for k in sel:
                    i = bisect.bisect_left(rg_keys, k)
                    j = bisect.bisect_right(rg_keys, k, i)
                    if i < j:
                        yield k, tbl.slice(i, j - i)

    def _values(self, keys, value: str) -> dict:
        """``{key: value}`` for the wanted keys present (one row each)."""
        return {k: rows.column(0)[0].as_py() for k, rows in self._rows(keys, (value,))}


_BLOCK_COLS = ("first_doc", "n_docs", "doc_deltas", "tfs", "doc_lens", "block_max_impact")


class DirectBlockReader(_DirectKeyedReader):
    """Serving-node cold-path reader: term-pruned block fetch straight
    from the parquet files via Arrow — NO Spark job.

    The block files are globally term-sorted
    (``build_blocks_from_partials`` range-partitions by (term, salt) and
    sorts within partitions), so parquet
    row-group statistics on ``term`` prune a query to the 1–2 row
    groups that can contain it — the Lucene-segment access shape. File
    handles and per-row-group (min, max) term ranges load once from the
    footers (a few KB each) and are kept for the reader's lifetime;
    a row group decodes on its first miss and later misses in it are
    a binary search over the decoded terms, with no file read.

    Round-3 measured the cold serving path at ~180 ms vs ~43 warm: the
    cost was the per-miss Spark job (scheduler + task launch over every
    cached partition), not the bytes. At 10^12 docs the same design
    holds — the footer index is O(files) once, each query touches
    O(row groups containing its terms)."""

    def __init__(self, path: str):
        super().__init__(path, "term", "block")

    def fetch(
        self, terms: list[str], with_positions: bool = False
    ) -> dict[str, tuple[list[_Block], int]]:
        """Same contract as :func:`fetch_term_blocks`."""
        cols = _BLOCK_COLS + (("pos_deltas",) if with_positions else ())
        out: dict[str, tuple[list[_Block], int]] = {}
        for t, rows in self._rows(terms, cols):
            data = {c: rows.column(c).to_pylist() for c in cols}
            blks, df = out.get(t, ([], 0))
            for i in range(rows.num_rows):
                blks.append(
                    _Block(
                        data["first_doc"][i],
                        bytes(data["doc_deltas"][i]),
                        bytes(data["tfs"][i]),
                        bytes(data["doc_lens"][i]),
                        data["block_max_impact"][i],
                        bytes(data["pos_deltas"][i]) if with_positions else b"",
                    )
                )
            out[t] = (blks, df + sum(data["n_docs"]))
        return out


class DirectDocMapReader(_DirectKeyedReader):
    """Serving-node URL resolution without a Spark job — the doc_map
    sibling of :class:`DirectBlockReader`. ``build.py::_doc_map_df``
    writes ascending, per-partition-contiguous doc_ids, so parquet
    row-group statistics prune a k-id lookup to the row groups that
    can contain them. Replaces the ``doc_map.filter(isin).collect()``
    URL-resolve job of ``engine.search``."""

    def __init__(self, path: str):
        super().__init__(path, "doc_id", "doc_map")

    def fetch(self, ids: list[int]) -> dict[int, str]:
        """``{doc_id: url}`` for the wanted ids present."""
        return self._values(ids, "url")


class DirectTermStatsReader(_DirectKeyedReader):
    """Serving-node df lookup without a Spark job — the term_stats
    sibling of :class:`DirectDocMapReader`. Every writer sorts
    term_stats by term within each file, so a lookup reads at most one
    row group per file at any index size; the decoded row groups are
    the df cache."""

    def __init__(self, path: str):
        super().__init__(path, "term", "term_stats")

    def fetch(self, terms: list[str]) -> dict[str, int]:
        """Same contract as ``router.term_dfs``: every distinct term
        gets an entry, df 0 when the index lacks it."""
        found = self._values(terms, "df")
        return {t: found.get(t, 0) for t in set(terms)}


class BlockCache:
    """Driver-side LRU of term → (blocks, df) — the serving-node warm
    cache. Misses batch into one term-pruned fetch: a footer-pruned
    direct Arrow read when ``direct`` is given (no Spark job — the
    serving configuration), else a pruned Spark scan."""

    def __init__(
        self,
        blocks: DataFrame,
        max_terms: int = 10_000,
        direct: "DirectBlockReader | None" = None,
    ):
        from collections import OrderedDict

        self.blocks = blocks
        self.max_terms = max_terms
        self.direct = direct
        self._cache: "OrderedDict[tuple[str, bool], tuple[list[_Block], int]]" = (
            OrderedDict()
        )

    def get(
        self, terms: list[str], with_positions: bool = False
    ) -> dict[str, tuple[list[_Block], int]]:
        out = {}
        misses = []
        for t in sorted(set(terms)):
            key = (t, with_positions)
            if key in self._cache:
                self._cache.move_to_end(key)
                out[t] = self._cache[key]
            else:
                misses.append(t)
        if misses:
            if self.direct is not None:
                fetched = self.direct.fetch(misses, with_positions)
            else:
                fetched = fetch_term_blocks(self.blocks, misses, with_positions)
            for t in misses:
                entry = fetched.get(t, ([], 0))
                self._cache[(t, with_positions)] = entry
                if entry[1] > 0:
                    out[t] = entry
                while len(self._cache) > self.max_terms:
                    self._cache.popitem(last=False)
        return {t: e for t, e in out.items() if e[1] > 0}


def load_query_cursors(
    blocks: DataFrame,
    term_stats: DataFrame | None,
    n_docs: int,
    avgdl: float,
    query_terms: list[str],
    k1: float = K1,
    b: float = B,
    with_positions: bool = False,
    cache: BlockCache | None = None,
) -> list[TermCursor]:
    """Build driver-side cursors for the query terms. Blocks come from
    ``cache`` when given — no Spark job on a hit, nor on a miss when
    the cache has a :class:`DirectBlockReader` — else from one
    term-pruned Spark scan. ``term_stats`` is accepted for API
    compatibility but unused — df derives from block metadata."""
    if cache is not None:
        by_term = cache.get(list(query_terms), with_positions)
    else:
        by_term = fetch_term_blocks(blocks, list(query_terms), with_positions)
    return [
        TermCursor(
            term=t,
            idf=lucene_idf(n_docs, df),
            blocks=blks,
            k1=k1,
            b=b,
            avgdl=avgdl,
        )
        for t, (blks, df) in by_term.items()
        if df > 0
    ]


def _single_term_topk(c: TermCursor, k: int) -> list[tuple[int, float]]:
    """Vectorized term-at-a-time top-k for one-term queries: one
    segmented decode (:func:`_decode_term_postings`), score the whole
    array, keep a running candidate pool — no per-posting Python
    loop."""
    docs, scores = _decode_term_postings(c)
    if docs.size == 0:
        return []
    if len(docs) > k:
        idx = np.argpartition(-scores, k - 1)[: max(k * 2, k)]
    else:
        idx = np.arange(len(docs))
    cand = sorted(
        ((float(scores[i]), -int(docs[i])) for i in idx), reverse=True
    )[:k]
    # argpartition may cut ties at the boundary; verify against a full
    # sort when the kth score has ties beyond the partition
    if len(docs) > k:
        kth = cand[-1][0]
        n_ge = int(np.count_nonzero(scores > kth))
        n_eq = int(np.count_nonzero(scores == kth))
        if n_ge + n_eq > len(cand):
            order = np.lexsort((docs, -scores))[: k]
            cand = [(float(scores[i]), -int(docs[i])) for i in order]
    return [(-d, s) for s, d in cand[:k]]


def _decode_term_postings(c: TermCursor) -> tuple[np.ndarray, np.ndarray]:
    """Decode ALL of a cursor's blocks in three vectorized passes →
    (docs, scores). Varint payloads are concatenated and decoded once;
    per-block doc-delta chains (each block's first delta is the absolute
    docID, codec.py::encode_block) are rebased with a segmented cumsum —
    no per-block numpy round-trips, so cost is O(total bytes), not
    O(blocks)."""
    d_bytes = b"".join(blk.doc_deltas for blk in c.blocks)
    deltas = decode_varints(d_bytes).astype(np.int64)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    tf = decode_varints(b"".join(blk.tfs for blk in c.blocks)).astype(np.float64)
    dl = decode_varints(b"".join(blk.doc_lens for blk in c.blocks)).astype(
        np.float64
    )
    # varints per block: count delta-payload end bytes before each
    # block's byte boundary (a varint's last byte is < 0x80)
    byte_ends = np.flatnonzero(np.frombuffer(d_bytes, dtype=np.uint8) < 128)
    bounds = np.cumsum([len(blk.doc_deltas) for blk in c.blocks])
    counts = np.diff(np.searchsorted(byte_ends, bounds, side="left"), prepend=0)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    csum = np.cumsum(deltas)
    base = np.where(starts > 0, csum[starts - 1], 0)
    docs = csum - np.repeat(base, counts)
    scores = c.idf * tf / (tf + c.k1 * (1 - c.b + c.b * dl / c.avgdl))
    return docs, scores


def _taat_topk(cursors: list[TermCursor], k: int) -> list[tuple[int, float]]:
    """Vectorized exact term-at-a-time top-k: decode every candidate
    block, score per term in one numpy expression, sum per doc, take
    top-k with the (score desc, doc_id asc) tie-break. Rank-identical to
    the WAND loop (both compute the exact BM25 sum); ~100–1000× faster
    per posting because no per-doc Python executes. Used when the
    query's total compressed payload is bounded (see ``wand_topk``) —
    the regime where decoding everything beats skipping."""
    parts = [_decode_term_postings(c) for c in cursors]
    docs = np.concatenate([p[0] for p in parts])
    scores = np.concatenate([p[1] for p in parts])
    uniq, inv = np.unique(docs, return_inverse=True)
    acc = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(acc, inv, scores)
    order = np.lexsort((uniq, -acc))[:k]
    return [(int(uniq[i]), float(acc[i])) for i in order if acc[i] > 0.0]


# Above this many compressed payload bytes (~= postings, deltas are
# 1–2 bytes each) the skipping WAND loop takes over: decoding
# everything stops being cheaper than skipping, and truly hot terms
# have already been routed to the distributed scorer (query/router.py).
TAAT_MAX_BYTES = 4_000_000


def wand_topk(
    cursors: list[TermCursor], k: int = 10, strategy: str = "auto"
) -> list[tuple[int, float]]:
    """Top-k over compressed blocks. Returns [(doc_id, score)]
    ordered by (score desc, doc_id asc), length ≤ k.

    ``strategy``: ``"auto"`` (default) picks the vectorized exact TAAT
    scorer when the query's total compressed payload is under
    ``TAAT_MAX_BYTES`` and the document-at-a-time block-max WAND loop
    otherwise; ``"wand"`` / ``"taat"`` force a path (tests pin both
    rank-identical)."""
    cursors = [c for c in cursors if not c.exhausted()]
    if len(cursors) == 1 and strategy != "wand":
        return _single_term_topk(cursors[0], k)
    if strategy == "taat" or (
        strategy == "auto"
        and cursors
        and sum(len(b.doc_deltas) for c in cursors for b in c.blocks)
        <= TAAT_MAX_BYTES
    ):
        return _taat_topk(cursors, k) if cursors else []
    heap: list[tuple[float, int]] = []  # min-heap of (score, -doc_id)

    def theta() -> float:
        return heap[0][0] if len(heap) >= k else 0.0

    while True:
        live = [c for c in cursors if not c.exhausted()]
        if not live:
            break
        live.sort(key=lambda c: c.cur_doc)
        acc = 0.0
        pivot_idx = -1
        for i, c in enumerate(live):
            acc += c.ub
            if acc > theta():
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # nothing left can beat theta
        pivot_doc = live[pivot_idx].cur_doc
        # the covering set must include EVERY cursor positioned at the
        # pivot doc (ties beyond the pivot index still contribute to its
        # score), not just the pivot prefix
        cover_end = pivot_idx + 1
        while cover_end < len(live) and live[cover_end].cur_doc == pivot_doc:
            cover_end += 1
        cover = live[:cover_end]
        # block-max refinement: bound each covering term by the max
        # impact of the block COVERING the pivot (peeked, cursors not
        # moved)
        if sum(c.block_ub_for(pivot_doc) for c in cover) <= theta():
            # the bounds hold up to the shallowest covering-block end;
            # nothing in (cur, boundary] can win — skip past it.
            boundary = min(c.block_boundary_for(pivot_doc) for c in cover)
            target = boundary + 1
            if cover_end < len(live):
                # docs at/beyond the next cursor's position would need
                # its contribution re-counted — don't skip past it
                target = min(target, live[cover_end].cur_doc)
            live[0].next_geq(max(target, live[0].cur_doc + 1))
            continue
        if live[0].cur_doc == pivot_doc:
            score = 0.0
            for c in live:
                if c.cur_doc == pivot_doc:
                    score += c.score_current()
            item = (score, -pivot_doc)
            if len(heap) < k:
                if score > 0.0:
                    heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
            for c in live:
                if c.cur_doc == pivot_doc:
                    c.advance()
        else:
            live[0].next_geq(pivot_doc)
    ranked = sorted(heap, key=lambda t: (-t[0], -t[1]))
    return [(-d, s) for s, d in ranked]
