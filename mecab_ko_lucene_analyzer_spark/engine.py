"""High-level facade: the Spark-native equivalent of the reference's
plugin surface (Q10 actions analyze / build-index / search,
``ProductNameAnalysisAction.java:74-229``) as a Python API + CLI jobs.
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass, replace
from functools import cached_property

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .analysis.dictionary import AnalyzerOption, analyze_query
from .index.build import build_and_write
from .query.ast import (
    And,
    Sum,
    Term,
    ast_shape,
    bag_ast,
    build_query_ast,
    to_json,
    token_ast,
)
from .query.executor import execute_ast
from .query.router import distributed_ast_topk

__all__ = ["SearchEngine"]


def _query_ast(tokens: list[dict], conjunctive: bool, exclude_tokens=None):
    """The one AST ``search``, ``count`` and ``search_bulk`` serve for
    analyzed ``tokens``: the analyzed query's ``And`` when conjunctive;
    else the ``Sum`` of the distinct per-token subtrees (a token's
    synonyms in an ``Or`` group) when a token has synonyms, and the
    disjunctive bag's ``Sum`` of its distinct terms (``bag_ast``)
    otherwise."""
    if conjunctive:
        return build_query_ast(tokens, exclude_tokens)
    if any(t.get("synonyms") for t in tokens):
        return Sum(tuple(dict.fromkeys(token_ast(t) for t in tokens)))
    return bag_ast(t["term"] for t in tokens)


def _msm_ast(tokens: list[dict], min_should_match: int) -> Sum:
    """The disjunctive AST of ``tokens`` (:func:`_query_ast`) matching
    only docs that match at least ``min_should_match`` of its clauses —
    distinct terms, or a token's synonym group as one clause; values
    below 1 mean 1."""
    return replace(_query_ast(tokens, False), min_should_match=max(min_should_match, 1))


@dataclass
class SearchEngine:
    spark: SparkSession
    base_path: str
    option: AnalyzerOption
    mode: str = "standard"
    #: df above which a query term is "hot": its blocks are never
    #: collected to the driver — the whole query routes to the
    #: distributed scorer (``query/router.py``). At 10^12 docs a
    #: josa-class term owns millions of blocks; the driver evaluator
    #: is only for queries whose postings fit serving memory.
    max_driver_df: int = 1_000_000

    def __post_init__(self):
        import pyarrow.parquet as pq

        from .fs import parquet_parts
        from .query.wand import (
            BlockCache,
            DirectBlockReader,
            DirectDocMapReader,
            DirectTermStatsReader,
        )

        # every serving read and the corpus stats go straight to the
        # parquet files through Arrow, on whatever file system
        # ``fs.resolve`` opens for the path — zero Spark jobs; a missing
        # table, an unrecognized scheme or an unreadable file raises here
        base = self.base_path
        self.block_cache = BlockCache(None, direct=DirectBlockReader(f"{base}/blocks"))
        self._doc_map_direct = DirectDocMapReader(f"{base}/doc_map")
        self._term_stats_direct = DirectTermStatsReader(f"{base}/term_stats")
        fs, parts = parquet_parts(f"{base}/corpus_stats")
        corpus = pq.read_table(parts, filesystem=fs).to_pylist()[0]
        self.n_docs = corpus["n_docs"]
        self.avgdl = corpus["avgdl"]
        #: term → df memo in front of the term_stats reader, so a warm
        #: search looks each df up once; LRU-bounded like the adjacent
        #: BlockCache — an open-ended query stream (typos included)
        #: must not grow driver memory monotonically (int values are
        #: tiny, but 10^8 distinct terms of key strings are not)
        self._df_cache: "OrderedDict[str, int]" = OrderedDict()
        self._df_cache_max = 100_000
        #: route taken by the last search/count call — "driver" (the AST
        #: evaluator over cached postings) or "distributed" (block-table
        #: scorer); diagnostics + tested routing evidence
        self.last_route: str | None = None

    # the Spark tables, read on first use by the methods that run Spark
    # (the distributed route, explain, expansions, aggregations, cache())
    @cached_property
    def blocks(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.base_path}/blocks")

    @cached_property
    def term_stats(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.base_path}/term_stats")

    @cached_property
    def doc_map(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.base_path}/doc_map")

    def _dfs(self, terms: list[str]) -> dict[str, int]:
        """Per-term df, 0 for terms the index lacks, answered from the
        ``_df_cache`` LRU; its misses are read from the term_stats files
        (:class:`~.query.wand.DirectTermStatsReader`, no Spark job)."""
        misses = sorted({t for t in terms if t not in self._df_cache})
        if misses:
            fetched = self._term_stats_direct.fetch(misses)
            for t in misses:
                self._df_cache[t] = fetched[t]
        out = {}
        for t in set(terms):
            self._df_cache.move_to_end(t)
            out[t] = self._df_cache[t]
        while len(self._df_cache) > self._df_cache_max:
            self._df_cache.popitem(last=False)
        return out

    def cache(self) -> "SearchEngine":
        """Pin the distributed route's tables (blocks + term_stats) in
        executor memory — the Lucene searcher-warm state equivalent.
        The driver route reads the parquet files and does not use
        them."""
        self.blocks.cache().count()
        self.term_stats.cache().count()
        return self

    # -- actions (Q10) -------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        pages: DataFrame,
        base_path: str,
        option: AnalyzerOption | None = None,
        mode: str = "standard",
        compound_noun_min_length: int = 3,
        lang_filter: str | None = "ko",
        with_anchors: bool = False,
        anchor_external_only: bool = False,
        with_titles: bool = False,
    ) -> "SearchEngine":
        build_and_write(
            pages,
            base_path,
            mode=mode,
            compound_noun_min_length=compound_noun_min_length,
            lang_filter=lang_filter,
            with_blocks=True,
            with_anchors=with_anchors,
            anchor_external_only=anchor_external_only,
            with_titles=with_titles,
        )
        return cls(spark, base_path, option or AnalyzerOption(), mode)

    @classmethod
    def from_incremental(
        cls,
        spark: SparkSession,
        index_path: str,
        option: AnalyzerOption | None = None,
        **kw,
    ) -> "SearchEngine":
        """Serve the CURRENT compaction of an incremental index: the
        ``serving.json`` pointer names the active ``versions/vN`` dir,
        so this engine keeps a stable, fully-consistent view even while
        the next compaction builds (``compact_incremental``'s versioned
        swap)."""
        from .streaming.incremental import serving_index_path

        path = serving_index_path(spark, index_path)
        if path is None:
            raise FileNotFoundError(
                f"no compaction published yet under {index_path!r} — run "
                "compact_incremental first"
            )
        return cls(spark, path, option or AnalyzerOption(), **kw)

    def analyze(self, text: str) -> list[dict]:
        return analyze_query(text, self.option, self.mode)

    def build_query(self, text: str, exclude: str | None = None):
        """Analyzed boolean AST for ``text``; ``exclude`` (analyzed
        through the same chain) becomes must_not clauses — the ES bool
        must/must_not shape (``DanawaSearchQueryBuilder.java:266-282``
        appends generic bool modes)."""
        return build_query_ast(
            self.analyze(text),
            self.analyze(exclude) if exclude else None,
        )

    def explain_query(self, text: str) -> str:
        return to_json(self.build_query(text))

    def explain(self, text: str, doc_id: int) -> dict:
        """Lucene/ES ``_explain``: why does ``doc_id`` score what it
        scores for ``text``? Returns the nested Explanation tree
        (value, description, details) over the analyzed term bag.

        Scale contract: NEVER fetches a term's full posting list — for
        each term one pruned job selects only the single block whose
        docID range covers ``doc_id`` (``max_by(first_doc)`` under a
        pushed ``term IN`` + ``first_doc <= doc_id`` filter), so the
        driver reads O(|terms|) block rows at ANY df, hot josa terms
        included. The per-term partials are the SAME BM25 expression
        the serving scorers run (``bm25.bm25_partial`` over the doc's
        tf and doc_len, found in the covering block by binary search),
        one per distinct term, added in term order. So the explained
        total matches the disjunctive bag score
        (``search(conjunctive=False)``, a ``Sum`` of the sorted terms)
        bit-for-bit (tested). A conjunctive search adds one partial per
        query token in query order: there a repeated token counts once
        here, and the last bit of the sum can differ."""
        import numpy as np

        from .index.codec import decode_block_arrays
        from .query.bm25 import lucene_idf
        from .query.explain import explanation_tree

        tokens = self.analyze(text)
        terms = sorted({t["term"] for t in tokens})
        if not terms:
            return explanation_tree([], doc_id)
        dfs = self._dfs(terms)
        cols = ["term", "first_doc", "doc_deltas", "tfs", "doc_lens"]
        covering = (
            self.blocks.filter(
                F.col("term").isin(terms) & (F.col("first_doc") <= doc_id)
            )
            .select(*cols)
            .groupBy("term")
            .agg(F.max_by(F.struct(*cols[1:]), F.col("first_doc")).alias("b"))
            .select("term", "b.*")
            .collect()
        )
        per_term = []
        for r in covering:
            df = dfs.get(r["term"], 0)
            if df <= 0:
                continue
            docs, tfs, dls, _ = decode_block_arrays(
                bytes(r["doc_deltas"]), bytes(r["tfs"]), bytes(r["doc_lens"])
            )
            i = int(np.searchsorted(docs, doc_id))
            if i == docs.size or docs[i] != doc_id:
                continue  # term does not match this doc
            per_term.append(
                {
                    "term": r["term"],
                    "tf": int(tfs[i]),
                    "doc_len": int(dls[i]),
                    "df": df,
                    "idf": lucene_idf(self.n_docs, df),
                    "avgdl": self.avgdl,
                    "n_docs": self.n_docs,
                }
            )
        per_term.sort(key=lambda c: c["term"])
        return explanation_tree(per_term, doc_id)

    def _route_distributed(self, ast, dfs: dict[str, int]) -> bool:
        """The one routing decision (shared by search and count): hot
        queries — any term's df above ``max_driver_df`` — go
        distributed; every AST shape routes (router.py; nested phrases
        evaluate as distributed flag columns). Sets ``last_route`` as
        the tested diagnostic."""
        routed = any(df > self.max_driver_df for df in dfs.values())
        self.last_route = "distributed" if routed else "driver"
        return routed

    def _ast_hits(self, ast, fetch: int, after=None) -> list[tuple[int, float]]:
        """Route + execute an AST — every search, a disjunctive bag
        as its ``Sum`` (``bag_ast``, ``min_should_match`` included):
        hot queries take the distributed scorer, cold queries run the
        driver AST evaluator. Both give the top ``fetch`` hits, of the
        docs ranked after the ``after = (score, doc_id)`` cursor when
        one is given."""
        dfs = self._dfs(ast_shape(ast)[0])
        if self._route_distributed(ast, dfs):
            return distributed_ast_topk(
                ast, self.blocks, dfs, self.n_docs, self.avgdl, fetch, after
            )
        return execute_ast(
            ast, None, self.n_docs, self.avgdl, fetch, cache=self.block_cache, after=after
        )

    def _resolve(self, hits: list[tuple[int, float]]) -> list[dict]:
        """Attach URLs to ranked hits, read from the doc_map files
        (:class:`~.query.wand.DirectDocMapReader`, no Spark job)."""
        if not hits:
            return []
        urls = self._doc_map_direct.fetch([d for d, _ in hits])
        return [{"doc_id": d, "score": s, "url": urls.get(d)} for d, s in hits]

    def search(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        conjunctive: bool = True,
        highlight: bool = False,
        exclude: str | None = None,
    ) -> list[dict]:
        """Analyze → AST → execute → resolve URLs.

        ``conjunctive=True`` is the reference's AND-over-tokens semantics
        (Q1); ``False`` is the disjunctive bag (ES ``bool.should``): a
        ``Sum`` of the distinct terms, each doc scoring the sum of its
        matching terms' BM25 partials. ``offset``/``k``
        give scroll-style paging (Q8, ``SearchUtil.java:136-150``):
        the engine fetches offset+k and slices — the standard deep-paging
        contract for top-k indexes. ``exclude`` text (analyzed through
        the same chain, synonyms included) becomes must_not clauses —
        exclusion filters, contributing 0 to every score.
        """
        tokens = self.analyze(text)
        if not tokens:
            return []
        excl = self.analyze(exclude) if exclude else None
        fetch = offset + k
        if excl and not conjunctive:
            # must_not is part of the Q1 conjunctive contract only
            raise ValueError(
                "exclude requires conjunctive=True (the reference's Q1"
                " AND-over-tokens semantics)"
            )
        hits = self._ast_hits(_query_ast(tokens, conjunctive, excl), fetch)
        out = self._resolve(hits[offset : offset + k])
        if highlight:
            terms = [t["term"] for t in tokens]
            for hit in out:
                hit["highlight_terms"] = terms
        return out

    def _field_tables(self, name: str):
        """Lazy extra-field tables ``(postings, doc_stats, len_sum)``
        for ``name`` in {'anchor', 'title'} (``with_anchors=True`` /
        ``with_titles=True`` builds); probed once through ``fs.py``."""
        attr = f"_{name}_field"
        if not hasattr(self, attr):
            from .fs import exists

            if exists(f"{self.base_path}/{name}_postings"):
                sp = self.spark
                cs = sp.read.parquet(
                    f"{self.base_path}/{name}_corpus_stats"
                ).first()
                setattr(
                    self,
                    attr,
                    (
                        sp.read.parquet(f"{self.base_path}/{name}_postings"),
                        sp.read.parquet(f"{self.base_path}/{name}_doc_stats"),
                        float(cs[f"{name}_len_sum"] or 0) if cs else 0.0,
                    ),
                )
            else:
                setattr(self, attr, None)
        tables = getattr(self, attr)
        if tables is None:
            raise FileNotFoundError(
                f"no {name} field under {self.base_path!r} — build with "
                f"with_{name}s=True (jobs/build_index.py --with-{name}s)"
            )
        return tables

    def _body_index(self):
        """Lazy row-postings view of the serving index (fused builds
        decode the partial blocks; row-identical to a legacy build)."""
        if not hasattr(self, "_body_idx"):
            from .index.build import load_index

            self._body_idx = load_index(self.spark, self.base_path)
        return self._body_idx

    def search_fielded(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        anchor_weight: float = 2.0,
        title_weight: float = 0.0,
        highlight: bool = False,
    ) -> list[dict]:
        """Field-weighted retrieval: BM25F (Lucene combined-field
        model) over body text + the incoming-anchor and/or title
        fields of a ``with_anchors=True`` / ``with_titles=True`` build
        (``query/bm25f.py``). A field participates iff its weight is
        non-zero (and its tables must then exist).

        Always the DISTRIBUTED scorer — one Spark job per query, every
        postings scan pruned by the query-term IN filter. The extra
        fields are an offline/relevance-mining surface (hard
        negatives, quality-weighted sampling), not the hot serving
        path; the driver evaluator stays body-only by design.
        All-zero weights are rank-identical to disjunctive
        :meth:`search` (pinned in tests)."""
        from .query.bm25f import bm25f_topk_postings

        tokens = self.analyze(text)
        if not tokens:
            return []
        terms = [t["term"] for t in tokens]
        fields = []
        for name, w in (("anchor", anchor_weight), ("title", title_weight)):
            if w:
                p, ds, ls = self._field_tables(name)
                fields.append((p, ds, ls, w))
        self.last_route = "distributed"
        rows = bm25f_topk_postings(
            self._body_index(),
            fields,
            terms,
            k=offset + k,
        ).collect()
        hits = [(r["doc_id"], r["score"]) for r in rows]
        out = self._resolve(hits[offset : offset + k])
        if highlight:
            for hit in out:
                hit["highlight_terms"] = terms
        return out

    def load_boosts(self, source) -> "SearchEngine":
        """Attach a ``(doc_id, boost)`` quality-prior table for
        :meth:`search_boosted` — a parquet/catalog identifier or a
        DataFrame (e.g. ``functions.webgraph.doc_boost_table`` over
        ``jobs/webgraph.py`` host ranks)."""
        if isinstance(source, str):
            from .sources.catalog import read_table

            source = read_table(self.spark, source)
        self._doc_boosts = source
        return self

    def _boost_table(self):
        if not hasattr(self, "_doc_boosts"):
            from .fs import exists

            path = f"{self.base_path}/doc_boosts"
            self._doc_boosts = self.spark.read.parquet(path) if exists(path) else None
        if self._doc_boosts is None:
            raise FileNotFoundError(
                f"no doc_boosts under {self.base_path!r} — build with "
                "host_ranks (jobs/build_index.py --host-ranks) or call "
                "engine.load_boosts(...)"
            )
        return self._doc_boosts

    def search_boosted(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        w_boost: float = 0.5,
        highlight: bool = False,
    ) -> list[dict]:
        """Centrality-blended retrieval: ``bm25 + w·boost`` over the
        attached quality prior (:meth:`load_boosts`, or the
        ``doc_boosts`` table a ``--host-ranks`` build writes). The
        blend applies BEFORE the top-k cut, so this is always the
        DISTRIBUTED scorer (an additive per-doc prior cannot ride
        MaxScore's upper-bound pruning); ``w_boost=0`` is rank-identical
        to disjunctive :meth:`search` (pinned in tests)."""
        from .query.bm25 import boosted_bm25_topk

        tokens = self.analyze(text)
        if not tokens:
            return []
        terms = [t["term"] for t in tokens]
        boosts = self._boost_table()
        self.last_route = "distributed"
        rows = boosted_bm25_topk(
            self._body_index(), boosts, terms, w_boost=w_boost, k=offset + k
        ).collect()
        hits = [(r["doc_id"], r["score"]) for r in rows]
        out = self._resolve(hits[offset : offset + k])
        if highlight:
            for hit in out:
                hit["highlight_terms"] = terms
        return out

    def search_msm(
        self,
        text: str,
        min_should_match: int = 2,
        k: int = 10,
        offset: int = 0,
        highlight: bool = False,
    ) -> list[dict]:
        """Disjunctive retrieval with Elasticsearch's
        ``minimum_should_match`` precision knob: the disjunctive
        :meth:`search` query (its ``Sum``) with ``min_should_match``
        set, so only docs matching at least that many of its clauses
        score — a clause is a distinct term, or one token's synonym
        group. Served like every search (``_ast_hits``: the driver
        evaluator, or the distributed scorer for a hot term), scores
        unchanged; ``min_should_match<=1`` is :meth:`search` with
        ``conjunctive=False``, bit for bit."""
        tokens = self.analyze(text)
        if not tokens:
            return []
        hits = self._ast_hits(_msm_ast(tokens, min_should_match), offset + k)
        out = self._resolve(hits[offset : offset + k])
        if highlight:
            terms = [t["term"] for t in tokens]
            for hit in out:
                hit["highlight_terms"] = terms
        return out

    def search_after(
        self,
        text: str,
        after: tuple[float, int] | None = None,
        k: int = 10,
        min_should_match: int = 0,
    ) -> list[dict]:
        """ES ``search_after`` deep paging: the :meth:`search_msm`
        ranking's page of ``k`` hits strictly after the
        ``(score, doc_id)`` cursor — pass the last hit's pair back to
        walk the disjunctive ranking without an O(depth) fetch. The
        cursor cuts the ranked docs before the top-k on either route
        (``_ast_hits``); ``after=None`` is the first page."""
        tokens = self.analyze(text)
        if not tokens:
            return []
        return self._resolve(
            self._ast_hits(_msm_ast(tokens, min_should_match), k, after)
        )

    def search_more_like_this(
        self,
        doc_id: int,
        m_terms: int = 10,
        k: int = 10,
        offset: int = 0,
    ) -> list[dict]:
        """Lucene MoreLikeThis over the built index: the seed doc's
        tf·idf-top ``m_terms`` terms as a disjunctive BM25 query, seed
        excluded (``query/expand.py::mlt_topk``)."""
        from .query.expand import mlt_topk

        self.last_route = "distributed"
        rows = mlt_topk(
            self._body_index(), doc_id, m_terms=m_terms, k=offset + k
        ).collect()
        return self._resolve(
            [(r["doc_id"], r["score"]) for r in rows][offset : offset + k]
        )

    def related_terms(
        self, term: str, k: int = 10, min_co: int = 2
    ) -> list[dict]:
        """Corpus-mined expansion candidates for ``term``: top-k
        co-occurring terms by document-level PMI
        (``query/expand.py::related_terms``) — the data-driven
        bootstrap for the curated synonym dictionary the analysis
        chain serves (A19/Q2)."""
        from .query.expand import related_terms as _related

        return [
            {"term": r["term"], "n_co": r["n_co"], "pmi": r["pmi"]}
            for r in _related(
                self._body_index(), term, k=k, min_co=min_co
            ).collect()
        ]

    def suggest(
        self, term: str, k: int = 5, max_edits: int = 2, min_df: int = 1
    ) -> list[dict]:
        """Did-you-mean suggestions from the index vocabulary
        (``query/expand.py::suggest_terms``): Levenshtein candidates
        ranked dist asc, df desc, term asc."""
        from .query.expand import suggest_terms

        return [
            {"term": r["term"], "df": r["df"], "dist": r["dist"]}
            for r in suggest_terms(
                self._body_index(),
                term,
                k=k,
                max_edits=max_edits,
                min_df=min_df,
            ).collect()
        ]

    def search_prefix(
        self,
        prefix: str,
        k: int = 10,
        offset: int = 0,
        max_expansions: int = 50,
    ) -> list[dict]:
        """Prefix retrieval (Lucene ``PrefixQuery``): expand against
        the vocabulary (df-desc top-terms rewrite, bounded collect),
        then serve the expansion set disjunctively — hot expansions
        route to the distributed scorer exactly like :meth:`search`'s
        disjunctive path (a one-letter prefix matching a josa-class
        term must never fetch its blocks to the driver)."""
        from .query.expand import prefix_expand_terms

        terms = prefix_expand_terms(self.term_stats, prefix, max_expansions)
        return self._resolve(self._ast_hits(bag_ast(terms), offset + k)[offset:])

    def search_fuzzy(
        self,
        term: str,
        k: int = 10,
        offset: int = 0,
        max_edits: int = 2,
        prefix_length: int = 0,
        max_expansions: int = 50,
    ) -> list[dict]:
        """Fuzzy retrieval (Lucene ``FuzzyQuery``): Levenshtein
        expansion within ``max_edits`` (exact term included at dist 0),
        served disjunctively with the same hot-term routing as
        :meth:`search_prefix`."""
        from .query.expand import fuzzy_expand_terms

        terms = [
            r["term"]
            for r in fuzzy_expand_terms(
                self.term_stats, term, max_edits, prefix_length,
                max_expansions,
            ).collect()
        ]
        return self._resolve(self._ast_hits(bag_ast(terms), offset + k)[offset:])

    def search_regexp(
        self,
        pattern: str,
        k: int = 10,
        offset: int = 0,
        max_expansions: int = 50,
    ) -> list[dict]:
        """Regexp retrieval (Lucene ``RegexpQuery``): full-string
        automaton match against the vocabulary (df-desc top-terms
        rewrite, bounded collect), served disjunctively with the same
        hot-term routing as :meth:`search_prefix` — a pattern matching
        a josa-class term must never fetch its blocks to the driver."""
        from .query.expand import regexp_expand_terms

        terms = regexp_expand_terms(self.term_stats, pattern, max_expansions)
        return self._resolve(self._ast_hits(bag_ast(terms), offset + k)[offset:])

    def search_wildcard(
        self,
        pattern: str,
        k: int = 10,
        offset: int = 0,
        max_expansions: int = 50,
    ) -> list[dict]:
        """Wildcard retrieval (Lucene ``WildcardQuery``): ``*``/``?``
        translated to the portable regex core
        (``query/compound.py::wildcard_to_regexp``), expanded via the
        vocabulary automaton walk, served disjunctively with the same
        hot-term routing as :meth:`search_prefix` — ``*`` alone
        matching a josa-class term must never fetch its blocks to the
        driver."""
        from .query.compound import wildcard_expand_terms

        terms = wildcard_expand_terms(self.term_stats, pattern, max_expansions)
        return self._resolve(self._ast_hits(bag_ast(terms), offset + k)[offset:])

    def suggest_phrase(
        self, terms: list[str], max_edits: int = 2, min_df: int = 1
    ) -> list[dict]:
        """Did-you-mean over a whole query (ES ``phrase`` suggester,
        ``query/expand.py::phrase_suggest``): per-position best
        correction (dist asc / df desc / term asc), in-vocab terms
        keep themselves. One vocabulary pass for all positions."""
        from .query.expand import phrase_suggest

        return [
            {
                "pos": r["pos"],
                "original": r["original"],
                "suggestion": r["suggestion"],
                "dist": r["dist"],
                "df": r["df"],
            }
            for r in phrase_suggest(
                self._body_index(), terms, max_edits=max_edits, min_df=min_df
            ).collect()
        ]

    def facets(
        self,
        text: str,
        attrs=None,
        attr_col: str = "host",
        k: int = 10,
        min_doc_count: int = 1,
        min_should_match: int = 0,
    ) -> list[dict]:
        """ES ``terms`` aggregation over the FULL matched doc set of
        the analyzed query (``query/aggs.py::facet_terms``) — the
        facet panel next to every product-search page. Default
        attribute: the doc's url host from the doc_map; pass any
        ``(doc_id, <attr_col>)`` DataFrame as ``attrs`` to facet on a
        joined metadata column instead. Buckets rank doc_count desc /
        value asc.

        Match semantics: the disjunctive bag over the ANALYZED
        vocabulary (``ast_terms`` of the built query — synonym and
        extra terms included), i.e. exactly the match set of
        ``search(conjunctive=False)`` for term/synonym queries; for
        queries whose analysis emits multi-word phrases, phrase
        adjacency is not enforced here (the bag is a superset)."""
        from .functions.curation import host_of
        from .query.aggs import facet_terms
        from .query.ast import ast_terms

        tokens = self.analyze(text)
        if not tokens:
            return []
        if attrs is None:
            attrs = self.doc_map.select(
                "doc_id", host_of("url").alias(attr_col)
            )
        rows = facet_terms(
            self._body_index(),
            sorted(ast_terms(self.build_query(text))),
            attrs,
            attr_col,
            k=k,
            min_doc_count=min_doc_count,
            min_should_match=min_should_match,
        ).collect()
        return [
            {"value": r["value"], "doc_count": r["doc_count"]} for r in rows
        ]

    def aggregate(self, text: str, aggs: dict, attrs=None) -> dict:
        """ES ``aggregations`` body over the analyzed query's match
        set — one named entry per agg, dispatching to the
        ``query/aggs.py`` implementations::

            engine.aggregate("검색 엔진", {
                "hosts":  {"terms": {"field": "host", "size": 5}},
                "length": {"stats": {"field": "doc_len"}},
                "bands":  {"range": {"field": "doc_len",
                                     "ranges": [{"to": 50}, {"from": 50}]}},
            })

        Supported kinds: ``terms``, ``stats``, ``extended_stats``,
        ``percentiles``, ``cardinality``, ``value_count``,
        ``weighted_avg``, ``histogram``, ``range``, ``missing``,
        ``filters``, ``adjacency_matrix``, ``significant_terms``,
        ``rare_terms`` (``max_doc_count``/``size``), ``multi_terms``
        (``terms: [{field}, ...]`` composite-key buckets), and
        ``sampler`` with a ``significant_terms`` sub-agg
        (``shard_size`` bounds the foreground — the corpus-scale
        significance cut).
        Fields resolve against ``attrs`` when given (any ``(doc_id,
        ...)`` DataFrame), else the built-ins: ``host`` (url host from
        the doc_map) and ``doc_len`` (from doc_stats). Aggs evaluate
        independently (one job each — the facade favours clarity; a
        caller needing one-pass fan-out can compose the underlying
        functions over a cached match set). Same disjunctive-bag match
        semantics as :meth:`facets`."""
        from .functions.curation import host_of
        from .query import aggs as A
        from .query.ast import ast_terms

        tokens = self.analyze(text)
        if not tokens:
            return {name: None for name in aggs}
        terms = sorted(ast_terms(self.build_query(text)))
        idx = self._body_index()

        def rel_for(field):
            if attrs is not None and field in attrs.columns:
                return attrs
            if field == "host":
                return self.doc_map.select(
                    "doc_id", host_of("url").alias("host")
                )
            if field == "doc_len":
                return idx.doc_stats.select("doc_id", "doc_len")
            raise ValueError(
                f"unknown field {field!r}: pass an attrs DataFrame "
                "carrying it, or use a built-in (host, doc_len)"
            )

        out: dict = {}
        for name, spec in aggs.items():
            ((kind, body),) = spec.items()
            field = body.get("field")
            if kind == "terms":
                rows = A.facet_terms(
                    idx, terms, rel_for(field), field,
                    k=int(body.get("size", 10)),
                ).collect()
                out[name] = [
                    {"value": r["value"], "doc_count": r["doc_count"]}
                    for r in rows
                ]
            elif kind == "stats":
                out[name] = A.stats_agg(
                    idx, terms, rel_for(field), field
                ).first().asDict()
            elif kind == "extended_stats":
                out[name] = A.extended_stats_agg(
                    idx, terms, rel_for(field), field,
                    sigma=float(body.get("sigma", 2.0)),
                ).first().asDict()
            elif kind == "percentiles":
                pcts = tuple(body.get("percents", A.DEFAULT_PERCENTS))
                rows = A.percentiles_agg(
                    idx, terms, rel_for(field), field, percents=pcts
                ).collect()
                out[name] = {str(r["pct"]): r["value"] for r in rows}
            elif kind == "cardinality":
                out[name] = A.cardinality_agg(
                    idx, terms, rel_for(field), field,
                    exact=bool(body.get("exact", True)),
                ).first()["cardinality"]
            elif kind == "value_count":
                out[name] = A.value_count_agg(
                    idx, terms, rel_for(field), field
                ).first()["value_count"]
            elif kind == "weighted_avg":
                v, w = body["value"]["field"], body["weight"]["field"]
                rel = rel_for(v)
                if w not in rel.columns:
                    rel = rel.join(rel_for(w), "doc_id")
                out[name] = A.weighted_avg_agg(
                    idx, terms, rel, v, w
                ).first().asDict()
            elif kind == "histogram":
                rows = A.histogram_agg(
                    idx, terms, rel_for(field), field,
                    float(body["interval"]),
                ).collect()
                out[name] = [
                    {"key": r["bucket"], "doc_count": r["doc_count"]}
                    for r in rows
                ]
            elif kind == "range":
                ranges = [
                    (b.get("from"), b.get("to")) for b in body["ranges"]
                ]
                rows = A.range_agg(
                    idx, terms, rel_for(field), field, ranges
                ).collect()
                out[name] = [
                    {"key": r["key"], "doc_count": r["doc_count"]}
                    for r in rows
                ]
            elif kind == "missing":
                out[name] = A.missing_agg(
                    idx, terms, rel_for(field), field
                ).first()["missing_count"]
            elif kind == "filters":
                bags = {
                    n: [
                        t["term"]
                        for t in self.analyze(q.get("match", ""))
                    ] or q.get("terms", [])
                    for n, q in body["filters"].items()
                }
                rows = A.filters_agg(idx, bags).collect()
                out[name] = {
                    r["bucket"]: r["doc_count"] for r in rows
                }
            elif kind == "adjacency_matrix":
                bags = {
                    n: [
                        t["term"]
                        for t in self.analyze(q.get("match", ""))
                    ] or q.get("terms", [])
                    for n, q in body["filters"].items()
                }
                rows = A.adjacency_matrix_agg(idx, bags).collect()
                out[name] = {
                    r["bucket"]: r["doc_count"] for r in rows
                }
            elif kind == "significant_terms":
                rows = A.significant_terms(
                    idx, terms, k=int(body.get("size", 10))
                ).collect()
                out[name] = [
                    {
                        "term": r["term"],
                        "fg_df": r["fg_df"],
                        "bg_df": r["bg_df"],
                        "score": r["score"],
                    }
                    for r in rows
                ]
            elif kind == "sampler":
                # ES sampler + significant_terms sub-agg: the only
                # supported sub-agg (the scale-bounding combination)
                sub_aggs = body.get("aggs", {})
                if len(sub_aggs) != 1:
                    raise ValueError(
                        "sampler requires exactly one sub-agg "
                        f"(significant_terms), got {len(sub_aggs)}"
                    )
                ((sub_name, sub),) = sub_aggs.items()
                ((sub_kind, sub_body),) = sub.items()
                if sub_kind != "significant_terms":
                    raise ValueError(
                        "sampler supports a significant_terms sub-agg "
                        f"only, got {sub_kind!r}"
                    )
                rows = A.sampler_significant_terms(
                    idx,
                    terms,
                    sample_size=int(body.get("shard_size", 100)),
                    k=int(sub_body.get("size", 10)),
                    score_round=6,
                ).collect()
                out[name] = {
                    sub_name: [
                        {
                            "term": r["term"],
                            "fg_df": r["fg_df"],
                            "bg_df": r["bg_df"],
                            "score": r["score"],
                        }
                        for r in rows
                    ]
                }
            elif kind == "multi_terms":
                flds = [t["field"] for t in body["terms"]]
                rel = rel_for(flds[0])
                for fcol in flds[1:]:
                    if fcol not in rel.columns:
                        rel = rel.join(rel_for(fcol), "doc_id")
                rows = A.multi_terms_agg(
                    idx, terms, rel, flds,
                    k=int(body.get("size", 10)),
                ).collect()
                out[name] = [
                    {
                        "key": [r[fcol] for fcol in flds],
                        "doc_count": r["doc_count"],
                    }
                    for r in rows
                ]
            elif kind == "rare_terms":
                rows = A.rare_terms_agg(
                    idx,
                    max_df=int(body.get("max_doc_count", 1)),
                    k=int(body.get("size", 10)),
                ).collect()
                out[name] = [
                    {"term": r["term"], "doc_count": r["df"]}
                    for r in rows
                ]
            else:
                raise ValueError(f"unsupported aggregation kind {kind!r}")
        return out

    def significant_terms(self, text: str, k: int = 10) -> list[dict]:
        """ES ``significant_terms`` over the analyzed query's match
        set (``query/aggs.py::significant_terms``, JLH score, query
        terms excluded) — "what words describe these results?". Same
        disjunctive-bag match semantics as :meth:`facets`."""
        from .query.aggs import significant_terms as sig
        from .query.ast import ast_terms

        tokens = self.analyze(text)
        if not tokens:
            return []
        rows = sig(
            self._body_index(),
            sorted(ast_terms(self.build_query(text))),
            k=k,
        ).collect()
        return [
            {
                "term": r["term"],
                "fg_df": r["fg_df"],
                "bg_df": r["bg_df"],
                "score": r["score"],
            }
            for r in rows
        ]

    def search_collapsed(
        self,
        text: str,
        k: int = 10,
        inner_hits: int = 1,
        attrs=None,
        attr_col: str = "host",
    ) -> list[dict]:
        """ES field collapsing (``query/aggs.py::collapse_topk``) —
        SERP same-site dedup: the top ``inner_hits`` docs per
        ``attr_col`` (default: the url host from the doc_map), then
        the global top ``k``. Scores are the disjunctive-bag BM25 of
        the analyzed query (the :meth:`facets` match semantics); urls
        resolve like every other hit list."""
        from .functions.curation import host_of
        from .query.aggs import collapse_topk
        from .query.ast import ast_terms
        from .query.bm25 import bm25_scored

        tokens = self.analyze(text)
        if not tokens:
            return []
        if attrs is None:
            attrs = self.doc_map.select(
                "doc_id", host_of("url").alias(attr_col)
            )
        scored = bm25_scored(
            self._body_index(), sorted(ast_terms(self.build_query(text)))
        )
        rows = collapse_topk(
            scored, attrs, attr_col, k=k, inner_hits=inner_hits
        ).collect()
        hits = self._resolve(
            [(int(r["doc_id"]), float(r["score"])) for r in rows]
        )
        for hit, r in zip(hits, rows):
            hit["group"] = r["group"]
        return hits

    def percolate(
        self, text: str, stored_queries: dict[int, str]
    ) -> list[int]:
        """Percolate ONE document against stored queries — the ES
        serving shape (``percolate`` is a per-doc request; the bulk
        relation form is ``query/percolate.py``). Both the doc and
        every stored query run through the SAME analysis chain;
        a query matches when all its analyzed terms appear in the
        doc's analyzed term set (conjunctive ES semantics). Driver-
        side set arithmetic — no Spark job."""
        doc_terms = {t["term"] for t in self.analyze(text)}
        out = []
        for qid, qtext in stored_queries.items():
            q_terms = {t["term"] for t in self.analyze(qtext)}
            if q_terms and q_terms <= doc_terms:
                out.append(qid)
        return sorted(out)

    def search_ast(
        self,
        query,
        k: int = 10,
        offset: int = 0,
        highlight: bool = False,
    ) -> list[dict]:
        """Structured-query serving (Q7): ``query`` is an AST node
        (``query.ast`` types) or its JSON rendering (the Q6 format the
        reference's REST query action accepts). This is the serving
        surface for explicit phrase queries (Q4,
        ``DanawaSearchQueryBuilder.java:287-291`` match_phrase) and
        hand-built boolean trees; routing, paging, and URL resolve are
        identical to :meth:`search`."""
        from .query.ast import ast_terms, from_json

        ast = from_json(query) if isinstance(query, (str, dict)) else query
        hits = self._ast_hits(ast, offset + k)
        out = self._resolve(hits[offset : offset + k])
        if highlight:
            terms = sorted(ast_terms(ast))
            for hit in out:
                hit["highlight_terms"] = terms
        return out

    def search_bulk(
        self,
        texts: list[str],
        k: int = 10,
        conjunctive: bool = True,
        offset: int = 0,
    ) -> DataFrame:
        """Bulk retrieval (the training-data shape: hard-negative
        mining, relevance distillation, eval sweeps): analyze every
        query through the SAME chain ``search`` uses and build the same
        AST (``_query_ast``: the analyzed query's ``And`` when
        conjunctive, phrases included; a disjunctive query's ``Sum``)
        — then score the whole batch in ONE Spark job
        (``ast_topk_batch``). Rank-identical per query to the driver
        serving path by construction (both run the same AST evaluator,
        executor-side here). Returns a DataFrame
        (query_id = position in ``texts``, rank, doc_id, score).
        ``offset`` pages every query in the batch (Q8 scroll: fetch
        offset+k, keep ranks offset+1..offset+k — ranks stay absolute,
        matching ``search(offset=...)``)."""
        from .query.batch import RESULT_SCHEMA, ast_topk_batch

        rows = []
        for i, text in enumerate(texts):
            toks = self.analyze(text)
            if not toks:
                continue
            rows.append((i, to_json(_query_ast(toks, conjunctive))))
        if not rows:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        out = ast_topk_batch(
            self.blocks,
            self.spark.createDataFrame(rows, "query_id long, query_json string"),
            self.n_docs,
            self.avgdl,
            offset + k,
            term_stats=self.term_stats,
            max_broadcast_df=self.max_driver_df,
        )
        if offset:
            out = out.filter(F.col("rank") > offset)
        return out

    def count_ast(self, query) -> int:
        """Match count for a STRUCTURED query (Q8 ``trackTotalHits``
        over the full tree — synonym Or-groups and boost-0 phrase
        filters included, the reference's count semantics for its own
        emitted query shape). ``query`` is an AST node or its Q6 JSON
        rendering. Hot queries count distributed (one row to
        the driver); everything else runs the driver AST evaluator."""
        from .query.ast import ast_terms, from_json
        from .query.executor import count_ast as exec_count_ast
        from .query.router import count_ast_blocks

        ast = from_json(query) if isinstance(query, (str, dict)) else query
        terms = sorted(ast_terms(ast))
        if not terms:
            return 0
        dfs = self._dfs(terms)
        if self._route_distributed(ast, dfs):
            return count_ast_blocks(
                ast, self.blocks, dfs, self.n_docs, self.avgdl
            )
        return exec_count_ast(
            ast, None, self.n_docs, self.avgdl, cache=self.block_cache
        )

    def count(
        self, text: str, conjunctive: bool = True, exclude: str | None = None
    ) -> int:
        """Match count (Q8 ``trackTotalHits`` equivalent) of the AST
        :meth:`search` serves for the same arguments (``_query_ast``:
        synonym groups included), served from the block index — never
        the row-postings table:

        * one term with no synonyms: its df from the df lookup
          (:meth:`_dfs`) — no block fetch, no decode;
        * 0 when a conjunctive query's bare term (one without
          synonyms) is absent — decided by the same df lookup;
        * else :meth:`count_ast` of that AST — the driver evaluator's
          match set (one term-pruned read at most, each cache entry
          decodes once), or the distributed count when a term is hot.

        ``exclude`` text adds must_not clauses (conjunctive only, the
        :meth:`search` contract).

        Round 1 ran a groupBy over the full row-postings parquet per
        call — an avoidable whole-table scan at serving time."""
        if exclude and not conjunctive:
            raise ValueError(
                "exclude requires conjunctive=True (the reference's"
                " Q1 AND-over-tokens semantics)"
            )
        tokens = self.analyze(text)
        if not tokens:
            return 0
        excl = self.analyze(exclude) if exclude else None
        ast = _query_ast(tokens, conjunctive, excl)
        terms, phrase = ast_shape(ast)
        dfs = self._dfs(terms)
        if len(terms) == 1 and not phrase and not excl:
            n = dfs[terms[0]]
        elif isinstance(ast, And) and any(
            isinstance(c, Term) and dfs[c.term] == 0 for c in ast.children
        ):
            n = 0
        else:
            return self.count_ast(ast)
        self._route_distributed(ast, dfs)  # the route the count stands for
        return n
