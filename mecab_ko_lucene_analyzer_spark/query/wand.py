"""Driver-side postings access (I7 query path).

The low-latency counterpart to the distributed scorer (``router.py``):
query terms are few, so their block lists are fetched with a
term-pruned read and scored on the driver. Every query — a disjunctive
bag is a ``Sum`` AST (``ast.bag_ast``) — is scored by the vectorized
evaluator (``executor.py``) directly on each term's cached
:class:`TermPostings`, bound by :func:`load_query_postings`; a bag's
top-k skips by MaxScore over the terms' max impacts there.
:func:`load_query_cursors` and :func:`wand_topk` keep the frozen
``bench.py`` surface: a binding plus avgdl, and its bag's top-k through
that one evaluator. The direct readers (:class:`DirectBlockReader`,
:class:`DirectDocMapReader`, :class:`DirectTermStatsReader`) serve
cache misses, df lookups and URL resolves from the index's parquet
files — on any file system ``fs.resolve`` opens, local or not — with
no Spark job, by bisecting footer ranges sorted once at open.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass
from functools import partial

import numpy as np

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..fs import parquet_parts
from ..index.codec import decode_positions, decode_varints
from .bm25 import bm25_partial, lucene_idf

__all__ = [
    "TermPostings",
    "wand_topk",
    "load_query_cursors",
    "load_query_postings",
    "fetch_term_blocks",
    "BlockCache",
    "DirectBlockReader",
    "DirectDocMapReader",
    "DirectTermStatsReader",
]


@dataclass
class _Block:
    first_doc: int
    doc_deltas: bytes
    tfs: bytes
    doc_lens: bytes
    max_impact: float
    pos_deltas: bytes = b""


class TermPostings:
    """One term's postings as the serving cache holds them: the
    compressed blocks in docID order, the df and the term's max impact
    (the largest ``block_max_impact``, which bounds its BM25 partials
    at idf 1.0). The first scorer that needs the term calls
    :meth:`decode`, which fills in the decoded doc ID, tf and doc_len
    arrays once (block ``i`` owns ``[offsets[i], offsets[i + 1])``);
    later scorers over the same entry read them instead of decoding
    again. A phrase check decodes positions per block, only for the
    blocks that hold a candidate, and keeps them in the entry
    (:meth:`positions`). The BM25 scores of the decoded postings are
    kept too (:meth:`scores`). ``on_decode(entry, added_bytes)`` tells
    the owning cache that the entry grew."""

    __slots__ = (
        "blocks", "df", "max_impact", "nbytes",
        "docs", "tfs", "dls", "offsets", "pos", "on_decode", "_scores",
    )

    def __init__(self, blocks: list[_Block], df: int = 0, on_decode=None):
        self.blocks = sorted(blocks, key=lambda blk: blk.first_doc)
        self.df = df
        self.max_impact = max((blk.max_impact for blk in self.blocks), default=0.0)
        #: bytes the entry holds: payloads plus a rough per-block object
        #: cost, and the decoded arrays and scores once filled in
        self.nbytes = 256 * len(self.blocks) + sum(
            len(blk.doc_deltas) + len(blk.tfs) + len(blk.doc_lens) + len(blk.pos_deltas)
            for blk in self.blocks
        )
        self.docs = self.tfs = self.dls = self.offsets = None
        #: block index → that block's per-doc position arrays
        self.pos: dict[int, list[np.ndarray]] = {}
        self.on_decode = on_decode
        #: ((idf, avgdl), scores of the decoded postings), once scored
        self._scores: tuple[tuple[float, float], np.ndarray] | None = None

    def _grew(self, added: int) -> None:
        self.nbytes += added
        if self.on_decode is not None:
            self.on_decode(self, added)

    def decode(self) -> "TermPostings":
        """Decode every block in three vectorized passes, once per entry.
        Varint payloads are concatenated and decoded together; each
        block's doc-delta chain (its first delta is the absolute docID,
        codec.py::encode_block) is rebased with a segmented cumsum, so
        the cost is O(total bytes), not O(blocks). Blocks cover disjoint
        docID ranges, so ``docs`` is sorted and unique.

        The arrays are decoded into locals and ``docs`` is published
        last: a thread that finds ``docs`` set finds every array set."""
        if self.docs is not None:
            return self
        d_bytes = b"".join(blk.doc_deltas for blk in self.blocks)
        deltas = decode_varints(d_bytes).astype(np.int64)
        # varints per block: count delta-payload end bytes before each
        # block's byte boundary (a varint's last byte is < 0x80)
        byte_ends = np.flatnonzero(np.frombuffer(d_bytes, dtype=np.uint8) < 128)
        bounds = np.cumsum([len(blk.doc_deltas) for blk in self.blocks], dtype=np.int64)
        offsets = np.concatenate(([0], np.searchsorted(byte_ends, bounds, side="left")))
        counts = np.diff(offsets)
        csum = np.cumsum(deltas)
        base = np.where(offsets[:-1] > 0, csum[offsets[:-1] - 1], 0)
        docs = csum - np.repeat(base, counts)
        tfs = decode_varints(b"".join(blk.tfs for blk in self.blocks)).astype(np.int64)
        dls = decode_varints(b"".join(blk.doc_lens for blk in self.blocks)).astype(np.int64)
        for arr in (docs, tfs, dls, offsets):
            arr.flags.writeable = False  # shared by every query over the entry
        self.tfs, self.dls, self.offsets = tfs, dls, offsets
        self.docs = docs
        self._grew(docs.nbytes + tfs.nbytes + dls.nbytes + offsets.nbytes)
        return self

    def scores(self, idf: float, avgdl: float) -> np.ndarray:
        """BM25 partial of every decoded posting, aligned with
        :attr:`docs`. k1 and b are constants, so the scores depend only
        on ``(idf, avgdl)``: they are computed once per key, kept
        read-only in the entry and counted in :attr:`nbytes` (a new key
        replaces the old array)."""
        key = (idf, avgdl)
        if self._scores is None or self._scores[0] != key:
            self.decode()
            arr = bm25_partial(
                idf, self.tfs.astype(np.float64), self.dls.astype(np.float64), avgdl
            )
            arr.flags.writeable = False  # shared by every query over the entry
            old = 0 if self._scores is None else self._scores[1].nbytes
            self._scores = (key, arr)
            self._grew(arr.nbytes - old)
        return self._scores[1]

    def positions(self, idx: np.ndarray) -> list[np.ndarray]:
        """Position arrays of the postings at sorted indexes ``idx``
        into :attr:`docs` (the entry must hold ``pos_deltas``). A
        block's positions decode on its first use, once per entry, and
        count toward :attr:`nbytes` (arrays plus a rough per-array
        object cost)."""
        self.decode()
        out = []
        for bi, i in zip(
            (np.searchsorted(self.offsets, idx, side="right") - 1).tolist(), idx.tolist()
        ):
            lo = int(self.offsets[bi])
            block = self.pos.get(bi)
            if block is None:
                hi = int(self.offsets[bi + 1])
                block = decode_positions(self.blocks[bi].pos_deltas, self.tfs[lo:hi])
                self.pos[bi] = block
                self._grew(sum(a.nbytes for a in block) + 112 * len(block))
            out.append(block[i - lo])
        return out


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
    open every parquet part under ``path`` — on whatever file system
    ``fs.parquet_parts`` resolves it to — and load per-row-group (min,
    max) statistics of ``stats_col`` from the footers (a few KB per
    file). Returns ``[(ParquetFile, [(min, max) per row group]), ...]``;
    row groups without usable stats get ``(None, None)`` (always read),
    and a directory with no row groups gives ``[]``. A missing
    directory raises ``FileNotFoundError``; a file that is not readable
    parquet, or lacks ``stats_col``, raises its own error."""
    import pyarrow.parquet as pq

    fs, parts = parquet_parts(path)
    files = []
    for fn in parts:
        pf = pq.ParquetFile(fn, filesystem=fs)
        if pf.metadata.num_row_groups == 0:
            continue
        rg0 = pf.metadata.row_group(0)
        col_idx = next(
            (
                i
                for i in range(rg0.num_columns)
                if rg0.column(i).path_in_schema == stats_col
            ),
            None,
        )
        if col_idx is None:
            raise ValueError(f"{what} file {fn!r} has no {stats_col!r} column")
        ranges = []
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(col_idx).statistics
            if st is None or not st.has_min_max:
                ranges.append((None, None))  # unprunable: always read
            else:
                ranges.append((st.min, st.max))
        files.append((pf, ranges))
    return files


class _DirectKeyedReader:
    """Point lookups by ``key`` straight from a parquet table via Arrow
    — NO Spark job. At open the footer (min, max) range of every row
    group of every file goes into one table sorted by min, with the
    running max of the maxes beside it; a key bisects the mins once
    and compares only the ranges that can hold it
    (:meth:`_by_row_group`), so a lookup costs the same whatever the
    file count. Where the ranges are disjoint (doc_map, term-sorted
    block files) that is one range per key; where they overlap (a
    term's blocks across a row-group edge, term_stats files that each
    span the whole term range, a foreign writer's unsorted files) it is
    every range that holds the key. A row group without stats is a
    candidate for every key.

    The wanted keys are grouped by candidate row group, and each row
    group is taken from a byte-bounded LRU cache (a 10^12-doc table
    can't accrete unboundedly on one serving node), decoded on its
    first use, once per lookup:

    * a multi-row lookup (a term's blocks, :meth:`_rows`) keeps the
      row group's keys sorted — a foreign writer's unsorted row group
      is stably sorted once as it decodes, so a key's rows keep their
      file order — and slices each key's rows by bisection;
    * a one-value lookup (a df, a URL, :meth:`_values`) keeps the row
      group as a ``{key: value}`` dict, so each key is one ``get``.

    :attr:`ranges_examined` counts the row-group ranges the lookups
    compared a key against, the cost the sorted table bounds."""

    #: decoded bytes kept per reader (Arrow buffers plus a rough
    #: per-item cost of the Python keys, values and dict slots)
    cache_bytes = 256 << 20

    def __init__(self, path: str, key: str, what: str):
        from collections import OrderedDict
        from itertools import accumulate

        self._files = _footer_index(path, key, what)
        self._key = key
        rgs = [
            (lo, hi, fid, rgid)
            for fid, (_, ranges) in enumerate(self._files)
            for rgid, (lo, hi) in enumerate(ranges)
        ]
        table = sorted(r for r in rgs if r[0] is not None)
        self._mins = [r[0] for r in table]
        self._maxs = [r[1] for r in table]
        #: running max of the maxes: nondecreasing, so bisectable
        self._reach = list(accumulate(self._maxs, max))
        #: (file, row group) of each table entry, then of every row
        #: group without stats
        self._where = [r[2:] for r in table] + [r[2:] for r in rgs if r[0] is None]
        self.ranges_examined = 0
        self._rg_cache: "OrderedDict[tuple, tuple[object, int]]" = OrderedDict()
        self._rg_bytes = 0

    def _by_row_group(self, keys) -> dict[int, list]:
        """``{index into _where: the wanted keys its range can hold}``.
        A key's candidates are the table rows whose min does not pass
        it, walked down from the last one while the running max still
        reaches it — one row when the ranges are disjoint."""
        mins, maxs, reach = self._mins, self._maxs, self._reach
        unpruned = range(len(mins), len(self._where))
        groups: dict[int, list] = {}
        examined = 0
        for k in set(keys):
            i = bisect.bisect_right(mins, k) - 1
            while i >= 0 and reach[i] >= k:
                examined += 1
                if maxs[i] >= k:
                    groups.setdefault(i, []).append(k)
                i -= 1
            for i in unpruned:
                groups.setdefault(i, []).append(k)
            examined += len(unpruned)
        self.ranges_examined += examined
        return groups

    def _row_group(self, fid: int, rgid: int, columns: tuple, as_dict: bool):
        """One row group from the cache, or decoded once: with
        ``as_dict`` the ``{key: value}`` dict of the one value column,
        else (sorted keys, Arrow table of ``columns`` in key order)."""
        import pyarrow.compute as pc

        ck = (fid, rgid, columns, as_dict)
        ent = self._rg_cache.get(ck)
        if ent is not None:
            self._rg_cache.move_to_end(ck)
            return ent[0]
        tbl = self._files[fid][0].read_row_groups([rgid], columns=[self._key, *columns])
        keys = tbl.column(self._key)
        n = tbl.num_rows
        if as_dict:
            payload = dict(zip(keys.to_pylist(), tbl.column(columns[0]).to_pylist()))
            nbytes = tbl.nbytes + 192 * n
        else:
            if n > 1 and not pc.all(
                pc.less_equal(keys.slice(0, n - 1), keys.slice(1))
            ).as_py():
                tbl = tbl.take(pc.sort_indices(keys))
            vals = tbl.select(list(columns))
            payload = (tbl.column(self._key).to_pylist(), vals)
            nbytes = vals.nbytes + 64 * n
        while self._rg_cache and self._rg_bytes + nbytes > self.cache_bytes:
            self._rg_bytes -= self._rg_cache.popitem(last=False)[1][1]
        self._rg_cache[ck] = (payload, nbytes)
        self._rg_bytes += nbytes
        return payload

    def _rows(self, keys, columns: tuple):
        """Yield ``(key, Arrow table of its rows)`` for every wanted key
        present, one row group at a time."""
        for i, want in self._by_row_group(keys).items():
            rg_keys, tbl = self._row_group(*self._where[i], columns, False)
            for k in want:
                lo = bisect.bisect_left(rg_keys, k)
                hi = bisect.bisect_right(rg_keys, k, lo)
                if lo < hi:
                    yield k, tbl.slice(lo, hi - lo)

    def _values(self, keys, value: str) -> dict:
        """``{key: value}`` for the wanted keys present (one row each)."""
        out = {}
        columns = (value,)
        for i, want in self._by_row_group(keys).items():
            d = self._row_group(*self._where[i], columns, True)
            for k in want:
                if k in d:
                    out[k] = d[k]
        return out


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
    writes ascending, per-partition-contiguous doc_ids, so the row
    groups' doc_id ranges are disjoint: each id of a k-id lookup seeks
    its one row group, which answers from its cached ``{doc_id: url}``
    dict. Replaces the ``doc_map.filter(isin).collect()`` URL-resolve
    job of ``engine.search``."""

    def __init__(self, path: str):
        super().__init__(path, "doc_id", "doc_map")

    def fetch(self, ids: list[int]) -> dict[int, str]:
        """``{doc_id: url}`` for the wanted ids present."""
        return self._values(ids, "url")


class DirectTermStatsReader(_DirectKeyedReader):
    """Serving-node df lookup without a Spark job — the term_stats
    sibling of :class:`DirectDocMapReader`. Every writer sorts
    term_stats by term within each file, so a lookup reads at most one
    row group per file at any index size. The engine asks it only for
    the misses of its df memo (``SearchEngine._dfs``), so a warm
    search does not reach it; the decoded row groups it keeps spare
    those misses the file reads."""

    def __init__(self, path: str):
        super().__init__(path, "term", "term_stats")

    def fetch(self, terms: list[str]) -> dict[str, int]:
        """Same contract as ``router.term_dfs``: every distinct term
        gets an entry, df 0 when the index lacks it."""
        found = self._values(terms, "df")
        return {t: found.get(t, 0) for t in set(terms)}


class BlockCache:
    """Driver-side LRU of (term, with_positions) → :class:`TermPostings`
    — the serving-node warm cache. Misses batch into one footer-pruned
    Arrow read through the ``direct`` reader (no Spark job); ``blocks``
    is accepted for the callers that pass the Spark table, and unused.
    An entry holds the term's compressed blocks and, once a
    scorer has needed the whole term, its decoded arrays and their BM25
    scores, so a warm query decodes and scores nothing. The cache keeps
    at most ``max_terms`` entries and ``cache_bytes`` bytes (compressed
    plus decoded plus scores): an entry that grows past the budget as
    it decodes evicts the least recently used terms."""

    #: bytes kept (:attr:`TermPostings.nbytes` summed over the entries)
    cache_bytes = 256 << 20

    def __init__(
        self,
        blocks: DataFrame | None,
        max_terms: int = 10_000,
        *,
        direct: DirectBlockReader,
    ):
        from collections import OrderedDict

        self.max_terms = max_terms
        self.direct = direct
        self._cache: "OrderedDict[tuple[str, bool], TermPostings]" = OrderedDict()
        self._bytes = 0

    def get(
        self, terms: list[str], with_positions: bool = False
    ) -> dict[str, TermPostings]:
        """``{term: entry}`` for the wanted terms the index holds."""
        out = {}
        misses = []
        for t in sorted(set(terms)):
            key = (t, with_positions)
            ent = self._cache.get(key)
            if ent is not None:
                self._cache.move_to_end(key)
                out[t] = ent
            else:
                misses.append(t)
        if misses:
            fetched = self.direct.fetch(misses, with_positions)
            for t in misses:
                key = (t, with_positions)
                ent = TermPostings(
                    *fetched.get(t, ([], 0)), on_decode=partial(self._grew, key)
                )
                self._cache[key] = ent
                self._bytes += ent.nbytes
                out[t] = ent
            self._evict()
        return {t: e for t, e in out.items() if e.df > 0}

    def _grew(self, key: tuple[str, bool], ent: TermPostings, added: int) -> None:
        if self._cache.get(key) is ent:  # an evicted entry no longer counts
            self._bytes += added
            self._evict()

    def _evict(self) -> None:
        while self._cache and (
            len(self._cache) > self.max_terms or self._bytes > self.cache_bytes
        ):
            self._bytes -= self._cache.popitem(last=False)[1].nbytes


def load_query_postings(
    blocks: DataFrame,
    n_docs: int,
    query_terms: list[str],
    with_positions: bool = False,
    cache: BlockCache | None = None,
) -> dict[str, tuple[TermPostings, float]]:
    """term → (its :class:`TermPostings`, idf) for the query terms the
    index holds — the one postings loader of the driver scorers.
    Postings come from ``cache`` when given — no Spark job, its
    :class:`DirectBlockReader` serving the misses; ``blocks`` is then
    unused — else from one term-pruned Spark scan of ``blocks``."""
    if cache is not None:
        by_term = cache.get(list(query_terms), with_positions)
    else:
        by_term = {
            t: TermPostings(blks, df)
            for t, (blks, df) in fetch_term_blocks(
                blocks, list(query_terms), with_positions
            ).items()
        }
    return {t: (p, lucene_idf(n_docs, p.df)) for t, p in by_term.items() if p.df > 0}


def load_query_cursors(
    blocks: DataFrame,
    term_stats: DataFrame | None,
    n_docs: int,
    avgdl: float,
    query_terms: list[str],
    with_positions: bool = False,
    cache: BlockCache | None = None,
) -> tuple[dict[str, tuple[TermPostings, float]], float]:
    """(:func:`load_query_postings`' binding, ``avgdl``): what
    :func:`wand_topk` scores. ``term_stats`` is accepted for API
    compatibility but unused — df derives from block metadata."""
    return load_query_postings(blocks, n_docs, query_terms, with_positions, cache), avgdl


def wand_topk(
    cursors: tuple[dict[str, tuple[TermPostings, float]], float], k: int = 10
) -> list[tuple[int, float]]:
    """Top-k [(doc_id, score)], ordered by (score desc, doc_id asc), of
    the disjunctive bag of a :func:`load_query_cursors` binding: its
    ``bag_ast`` through the evaluator's MaxScore step, so term scores
    add in term order whatever the binding's order."""
    from .ast import bag_ast
    from .executor import _execute_bound

    bound, avgdl = cursors
    return _execute_bound(bag_ast(bound), bound, avgdl, k)
