"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full Korean analysis chain → inverted
index → BM25 top-k on a deterministic synthetic webpages corpus
(sf0.001-scale).

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2, runnable on the driver-provided parquet tables. The
full-text stack (postings, df/cf stats, doc/corpus stats, BM25 top-k)
is expressed over an *whitespace* tokenization of ``documents`` so that
DuckDB can replicate it exactly; the Korean analysis chain itself is
gated by the pytest golden suite (dictionary-independent tier) and
appears here as rows-only checks.

Column aliases match between Spark and SQL on purpose — the driver's
compare sorts columns by name and hashes values.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

K1 = 1.2
B = 0.75
BM25_QUERY = ["spark", "query", "data"]
# imported, NOT copied: the Spark side of quality_score/lang_id reads
# this list from functions.text — a local copy would let the two sides
# drift and hash-mismatch at the driver gate with no local test failure
from mecab_ko_lucene_analyzer_spark.functions.text import (  # noqa: E402
    EN_STOPWORDS,
)
from mecab_ko_lucene_analyzer_spark.functions.curation import (  # noqa: E402
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    URL_TRACKING_RE,
    _URL_HOSTPORT_RE,
    _URL_PATH_RE,
    _URL_QUERY_RE,
    _URL_SCHEME_RE,
)
from mecab_ko_lucene_analyzer_spark.functions.webgraph import (  # noqa: E402
    ANCHOR_RE as _ANCHOR_RE,
    HREF_RE as _HREF_RE,
)

# anchor-field weight for the BM25F contract query (body weight 1.0)
ANCHOR_W = 2.0
# centrality-prior weight for the boosted-BM25 contract query
BOOST_W = 0.5
# minimum-should-match precision knob for the msm contract query
MSM_MIN_MATCH = 2
# more-like-this: seed doc + Lucene MoreLikeThis maxQueryTerms analogue
MLT_SEED_DOC = 0
MLT_M_TERMS = 5
# PMI related-terms seed (rare-ish term: df 25 at sf0.01)
RELATED_SEED = "dup"
RELATED_MIN_CO = 2
# did-you-mean seed: 'par' → part(1), a(2), spark(2) in the synthetic vocab
SUGGEST_SEED = "par"
SUGGEST_MAX_EDITS = 2
# freshness prior: synthetic warc_ts = epoch + doc_id hours, 7d half-life
FRESH_EPOCH = 1735689600  # 2025-01-01 00:00:00 UTC
FRESH_STEP_S = 3600
FRESH_HALF_LIFE_DAYS = 7.0
from mecab_ko_lucene_analyzer_spark.sources.webpages import (  # noqa: E402
    HTML_COMMENT_RE as _HTML_COMMENT_RE,
    HTML_ENTITIES as _HTML_ENTITIES,
    HTML_SCRIPT_RE as _HTML_SCRIPT_RE,
    HTML_STYLE_RE as _HTML_STYLE_RE,
    HTML_TAG_RE as _HTML_TAG_RE,
    HTML_WS_RE as _HTML_WS_RE,
    CHARSET_ALIASES as _CHARSET_ALIASES,
    CHARSET_META_RE as _CHARSET_META_RE,
    HTML_NOINDEX_RE as _HTML_NOINDEX_RE,
    HTML_TITLE_RE as _HTML_TITLE_RE,
)


def _entity_chain_sql(expr: str) -> str:
    """Nested DuckDB replace() calls generated FROM the shared
    HTML_ENTITIES tuple — order and spelling cannot drift from the
    Spark side."""
    for ent, ch in _HTML_ENTITIES:
        expr = "replace({}, '{}', '{}')".format(
            expr, ent.replace("'", "''"), ch.replace("'", "''")
        )
    return expr


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_narrow(
    spark: SparkSession, sf_dir: str, bytes_per_part: int | None = None
) -> DataFrame:
    """(doc_id, text) fanned out across the cores: the sf tables are
    single-row-group parquet files, which a byte-range scan cannot
    split — without the (size-gated, no-op-at-scale) repartition every
    explode/aggregate/Python stage downstream runs as ONE task
    (guide §2.2/§6). Order-independent consumers only; the streaming
    queries that derive docIDs from file row order keep using
    :func:`_docs`."""
    from mecab_ko_lucene_analyzer_spark.functions.partitioning import fan_out

    return fan_out(
        _docs(spark, sf_dir).select("doc_id", "text"),
        bytes_per_part=bytes_per_part,
    )


#: byte-proportional fan-out for the JVM explode+aggregate consumers of
#: the token relation: measured optima (postings-family aggregation)
#: sit at 8-16 partitions for 0.5-6 MB inputs — far below 2x cores,
#: where per-task overhead dominates (see partitioning.fan_out)
_TOKENS_BYTES_PER_PART = 256 * 1024


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token table (doc_id, term) — shared tokenization for
    the oracle-checked index/query operators."""
    return _docs_narrow(spark, sf_dir, bytes_per_part=_TOKENS_BYTES_PER_PART).select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("term"),
    )


_TOKS_SQL = (
    "SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))"
    " AS term FROM documents"
)


# --------------------------------------------------------------------------
# entry: flagship Korean end-to-end slice
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Synthetic Korean webpages → analyzer UDF → postings → BM25 top-10."""
    from mecab_ko_lucene_analyzer_spark.index import build_index
    from mecab_ko_lucene_analyzer_spark.query import bm25_topk
    from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

    pages = synthesize_webpages(spark, 200, partitions=4)
    index = build_index(pages, lang_filter="ko")
    return bm25_topk(index, ["검색", "엔진", "한국어"], k=10)


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def _q_postings_tf(spark, sf_dir):
    return (
        _tokens(spark, sf_dir)
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


def _q_term_stats(spark, sf_dir):
    return (
        _tokens(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("cf"),
        )
    )


def _q_doc_stats(spark, sf_dir):
    return (
        _tokens(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("doc_len"),
            F.countDistinct("term").alias("n_distinct"),
        )
    )


def _q_corpus_stats(spark, sf_dir):
    return (
        _tokens(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("dl"))
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("dl"), 6).alias("avgdl"),
        )
    )


def _q_bm25_topk(spark, sf_dir):
    # Single-pass "wide" formulation (round-6 optimization; same rows
    # as the oracle, verified by the driver's hash compare): ONE
    # explode+aggregate over the corpus computes doc_len AND the
    # per-query-term tfs as pivot columns, a 1-row broadcast derives
    # (n, avgdl, df_i) from that same aggregate, and the score is a
    # closed-form column — the previous formulation re-ran the full
    # token aggregation for the scalars broadcast AND the dl join side
    # (two extra corpus passes), then shuffled a join. The token scan
    # stays un-fanned: the aggregation is one tight codegen pass whose
    # broadcast subtrees would each replay a fan-out exchange
    # (measured slower with fan_out at 10x: 1.7 s -> 3.8 s; this
    # shape: 1.25 s).
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_partial_col, idf_col

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("term"),
    )
    nq = len(BM25_QUERY)
    wide = toks.groupBy("doc_id").agg(
        F.count("*").cast("double").alias("doc_len"),
        *[
            F.count(F.when(F.col("term") == q, 1)).cast("double").alias(f"tf{i}")
            for i, q in enumerate(BM25_QUERY)
        ],
    )
    scal = wide.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("doc_len").alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).cast("double").alias(f"df{i}")
            for i in range(nq)
        ],
    )
    matched = wide.filter(
        " or ".join(f"tf{i} > 0" for i in range(nq))
    ).crossJoin(F.broadcast(scal))
    partials = []
    for i in range(nq):
        idf = idf_col(F.col("n"), F.col(f"df{i}"))
        p = bm25_partial_col(idf, F.col(f"tf{i}"), F.col("doc_len"), F.col("avgdl"))
        partials.append(F.when(F.col(f"tf{i}") > 0, p).otherwise(F.lit(0.0)))
    score = F.round(sum(partials[1:], partials[0]), 6)
    return (
        matched.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5-hash groups with the canonical (min) doc kept."""
    from mecab_ko_lucene_analyzer_spark.functions.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over the normalized token stream."""
    from mecab_ko_lucene_analyzer_spark.functions.text import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def _q_token_count(spark, sf_dir):
    """Token counting: whitespace + BPE-ish subword proxy (4-char chunks)."""
    from mecab_ko_lucene_analyzer_spark.functions.text import token_counts

    return token_counts(_docs(spark, sf_dir))


def _q_quality_score(spark, sf_dir):
    """Quality scoring: length/stopword-ratio features + band."""
    from mecab_ko_lucene_analyzer_spark.functions.text import quality_features

    return quality_features(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    """Heuristic language-ID (stopword hits + hangul ratio) vs the label."""
    from mecab_ko_lucene_analyzer_spark.functions.text import language_id

    return language_id(_docs(spark, sf_dir))


def _q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals: dup-token / dup-bigram fraction
    + top-token share, all per-row array expressions (zero shuffles)."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _q_domain_stats(spark, sf_dir):
    """Per-domain corpus inventory (C4-style allow/block-list input):
    one hash agg keyed on source with map-side combine."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import domain_stats

    return domain_stats(_docs(spark, sf_dir))


def _pii_injected(spark, sf_dir):
    """The synthetic corpus carries no PII, so the contract query
    injects deterministic PII (keyed on doc_id) before scrubbing — the
    oracle injects the identical strings, so counts and redacted text
    are exactly checkable."""
    did = F.col("doc_id")
    return _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.lit(" call 010-1234-5678")).otherwise(
                F.lit("")
            ),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (did % 250).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
        ),
    )


def _q_pii_redact(spark, sf_dir):
    """PII scrub: count + redact emails / dashed phones / IPv4 over the
    deterministically-injected corpus (pure regex map work)."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import pii_redact

    return pii_redact(_pii_injected(spark, sf_dir))


def _q_span_dedup(spark, sf_dir):
    """C4-style cross-doc span dedup: 10-token spans, global first
    occurrence survives, docs reassembled from surviving spans."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import span_dedup

    return span_dedup(_docs(spark, sf_dir), window=10)


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination report: training docs (doc_id >= 20)
    sharing >= 1 distinct 4-gram shingle hash with the 'eval set'
    (doc_id < 20); the eval shingle relation is broadcast, so the
    corpus side never shuffles for the join."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import contamination

    docs = _docs(spark, sf_dir)
    return contamination(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        n=4,
    )


def _q_pack_manifest(spark, sf_dir):
    """GPT-style sequence-packing manifest: global token offsets in
    doc_id order + the seq-64 ids each doc spans (two-pass cumsum —
    partition-count-invariant, no single-partition window)."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import pack_manifest

    return pack_manifest(_docs(spark, sf_dir), seq_len=64)


def _q_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy LM filter: per-doc mean token log-prob under
    the corpus unigram distribution (min_count=5 vocab, broadcast)."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir), min_count=5)


def _q_normalize_nfc(spark, sf_dir):
    """Unicode NFC canonicalization over a corpus injected with
    decomposed sequences (e+U+0301, A+U+030A) keyed on doc_id; emits
    the normalized-text md5 + a changed flag, exactly checkable
    against DuckDB's nfc_normalize."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import normalize_text

    injected = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" cafe\u0301 A\u030a"),
            ).otherwise(F.lit("")),
        ),
    )
    raw = injected.withColumn("_raw", F.col("text"))
    out = normalize_text(raw)
    return out.select(
        "doc_id",
        F.md5("text").alias("norm_md5"),
        (F.col("text") != F.col("_raw")).alias("changed"),
    )


# extract_text: the synthetic documents carry no HTML, so the contract
# query wraps each doc's text in deterministic boilerplate exercising
# every extraction rule (script + style blocks with embedded "<",
# comments, the six named entities incl. the "&amp;lt;" double-encoding
# case). Fragments are shared with the oracle below and contain no
# single quotes, so they interpolate into the SQL literal verbatim.
_HTML_INJ = (
    "<html><head><title>d",  # + doc_id
    '</title><style type="text/css">p { color: red; }</style>'
    '<script>var x = 1 < 2 && "a&b";</script></head><body><!-- id ',  # + doc_id
    " --><h1>Doc &quot;",  # + doc_id
    "&quot;</h1><p>",  # + text
    "</p><p>AT&amp;T &lt;b&gt;&nbsp;rest &amp;lt; &#39;s</p></body></html>",
)


def _q_extract_text(spark, sf_dir):
    """HTML → text extraction (ingestion stage 0 for the north rule's
    html:binary input column; per-row invariant: byte-identical
    extracted text). Pure Catalyst regex/replace chain, zero shuffles;
    the oracle replays the shared RE2-compatible patterns."""
    from mecab_ko_lucene_analyzer_spark.sources.webpages import extract_html_text

    did = F.col("doc_id").cast("string")
    h = _HTML_INJ
    pages = _docs(spark, sf_dir).select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit(h[0]), did, F.lit(h[1]), did, F.lit(h[2]), did,
                F.lit(h[3]), F.col("text"), F.lit(h[4]),
            ),
            "utf-8",
        ).alias("html"),
    )
    return extract_html_text(pages).select(
        "doc_id", "text", F.length("text").cast("bigint").alias("n_chars")
    )


def _q_detect_charset(spark, sf_dir):
    """Charset sniffing (the stage BEFORE extraction on a real crawl —
    the legacy Korean web is routinely EUC-KR/CP949): synthetic pages
    wrap documents.text with deterministically injected charset
    declarations keyed on doc_id — meta charset, http-equiv alias
    form, unknown label, none, MS949 alias — plus a BOM prefix every
    7th doc (which must outrank any meta). Pure Catalyst detection
    (`sources.webpages.charset_of`), zero shuffles; the oracle replays
    the shared CHARSET_META_RE + CHARSET_ALIASES at string level."""
    from mecab_ko_lucene_analyzer_spark.sources.webpages import charset_of

    did = F.col("doc_id")
    meta = (
        F.when(did % 6 == 0, F.lit('<meta charset="EUC-KR">'))
        .when(
            did % 6 == 1,
            F.lit(
                '<meta http-equiv="Content-Type"'
                ' content="text/html; charset=ks_c_5601-1987">'
            ),
        )
        .when(did % 6 == 2, F.lit("<meta CHARSET=utf-8>"))
        .when(did % 6 == 3, F.lit(""))
        .when(did % 6 == 4, F.lit('<meta charset="x-unknown">'))
        .otherwise(F.lit("<meta charset='MS949'>"))
    )
    bom = F.when(did % 7 == 0, F.lit("\ufeff")).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            bom,
            F.lit("<html><head>"),
            meta,
            F.lit("</head><body>"),
            F.col("text"),
            F.lit("</body></html>"),
        ),
        "utf-8",
    )
    return _docs(spark, sf_dir).select(
        "doc_id", charset_of(html).alias("charset")
    )


def _q_robots_noindex(spark, sf_dir):
    """Robots-meta exclusion (the crawl counterpart of ES index:false;
    `jobs/build_index.py --respect-noindex` filters on this before the
    analysis chain): synthetic pages with deterministically injected
    robots directives keyed on doc_id — both attribute orders, an
    index,follow control, a non-robots meta containing 'noindex', and
    no meta at all. Pure Catalyst (`sources.webpages.noindex_of`),
    zero shuffles; the oracle replays the shared HTML_NOINDEX_RE."""
    from mecab_ko_lucene_analyzer_spark.sources.webpages import noindex_of

    did = F.col("doc_id")
    meta = (
        F.when(did % 5 == 0, F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(did % 5 == 1, F.lit('<meta content="NOINDEX" name=robots>'))
        .when(did % 5 == 2, F.lit('<meta name="robots" content="index, follow">'))
        .when(did % 5 == 3, F.lit(""))
        .otherwise(F.lit('<meta name="description" content="noindex discussion">'))
    )
    html = F.encode(
        F.concat(
            F.lit("<html><head>"),
            meta,
            F.lit("</head><body>"),
            F.col("text"),
            F.lit("</body></html>"),
        ),
        "utf-8",
    )
    return _docs(spark, sf_dir).select(
        "doc_id", noindex_of(html).alias("noindex")
    )


def _q_canonical_urls(spark, sf_dir):
    """URL canonicalization (dedup-by-url key prep): the synthetic
    documents carry no url column, so deterministic messy urls keyed
    on doc_id are injected covering every rule — uppercase scheme/host,
    default vs non-default ports, tracking params, unsorted params,
    fragments, bare-slash paths, and non-url junk (passthrough)."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import canonical_url

    did = F.col("doc_id")
    ds = did.cast("string")
    scheme = F.when(did % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("HTTP://"))
    port = (
        F.when(did % 3 == 0, F.lit(":80"))
        .when(did % 3 == 1, F.lit(":443"))
        .otherwise(F.lit(""))
    )
    path = (
        F.when(did % 4 == 0, F.lit("/"))
        .when(did % 4 == 1, F.lit(""))
        .otherwise(F.concat(F.lit("/P"), ds))
    )
    query = (
        F.when(did % 5 == 0, F.concat(F.lit("?utm_source=x&b="), ds, F.lit("&a=1")))
        .when(did % 5 == 1, F.lit("?z=1&y=2"))
        .when(did % 5 == 2, F.lit("?utm_campaign&fbclid=f"))
        .otherwise(F.lit(""))
    )
    frag = (
        # the %14 arm carries a '?' INSIDE the fragment: it must not
        # resurrect a query string once the fragment is dropped
        F.when(did % 14 == 0, F.lit("#Frag?t=1"))
        .when(did % 7 == 0, F.lit("#Frag"))
        .otherwise(F.lit(""))
    )
    url = F.when(did % 17 == 0, F.concat(F.lit("doc "), ds, F.lit(" no url"))).otherwise(
        F.concat(
            scheme, F.lit("Example-"), (did % 40).cast("string"), F.lit(".COM"),
            port, path, query, frag,
        )
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", url.alias("url"))
        .withColumn("canon_url", canonical_url("url"))
    )


def _webgraph_pages(spark, sf_dir):
    """Deterministic link-bearing pages over ``documents`` (it has no
    html column): every resolution rule fires — absolute (uppercase
    host, to exercise folding), protocol-relative, root-relative
    (host-level self-loop), plus dropped mailto:/path-relative arms.
    ASCII-only html so the ISO-8859-1 extraction view is the identity
    and the DuckDB oracle replays extraction at string level."""
    did = F.col("doc_id")
    ds = did.cast("string")
    url = F.concat(
        F.lit("https://h"), (did % 5).cast("string"), F.lit(".example/d"), ds
    )
    html = F.concat(
        F.lit('<p>x</p><a href="https://H'),
        ((did + 1) % 7).cast("string"),
        F.lit(".EXAMPLE/p"),
        ds,
        F.lit('">a</a>'),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("<a href='//h"),
                ((did * 2) % 7).cast("string"),
                F.lit(".example/q'>b</a>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(F.lit('<a href="/r'), ds, F.lit('">c</a>')),
        ).otherwise(F.lit("")),
        F.lit('<a href="mailto:a@b.c">m</a><a href="rel/x">r</a>'),
    )
    return _docs(spark, sf_dir).select(
        url.alias("url"), F.encode(html, "utf-8").alias("html")
    )


def _q_extract_links(spark, sf_dir):
    """Anchor extraction + absolutization over the html column (the
    web-graph edge source). Catalyst regexp_extract_all + explode —
    zero exchanges."""
    from mecab_ko_lucene_analyzer_spark.functions.webgraph import extract_links

    return extract_links(_webgraph_pages(spark, sf_dir))


def _q_host_link_graph(spark, sf_dir):
    """Host-level edge list (links aggregated to (src_host, dst_host,
    n_links), self-loops dropped) — one map-side-combined hash agg."""
    from mecab_ko_lucene_analyzer_spark.functions.webgraph import (
        extract_links,
        host_graph,
    )

    return host_graph(extract_links(_webgraph_pages(spark, sf_dir)))


def _q_pagerank_hosts(spark, sf_dir):
    """PageRank (3 fixed iterations, d=0.85) over the host graph — the
    centrality/quality signal for corpus weighting. The edge relation
    partitions on src once and persists; each round shuffles only the
    rank vector. Oracle unrolls the same three iterations as chained
    CTEs (round-6 absorbs summation-order float noise)."""
    from mecab_ko_lucene_analyzer_spark.functions.webgraph import (
        extract_links,
        host_graph,
        pagerank,
    )

    edges = host_graph(extract_links(_webgraph_pages(spark, sf_dir)))
    return pagerank(edges, weight="n_links", iters=3)


def _anchor_pages(spark, sf_dir):
    """Deterministic anchor-text injection ``(doc_id, url, html)``:
    every doc links to the NEXT doc with the source doc's first 8
    whitespace tokens as anchor text (real corpus text — entities,
    Korean, anything goes; both engines replay the same regexes), plus
    a decade-hub link with one of 3 fixed anchor strings (aggregation
    fan-in for ``incoming_anchors``), plus periodic nested-markup,
    root-relative (dangling target, entity in anchor) and mailto cases
    exercising the extraction bounds. Urls are canonical by
    construction, so the canonical join in ``incoming_anchors`` is the
    identity here — variant-url matching is pinned by
    ``tests/test_anchors.py`` and the ``canonical_urls`` oracle."""
    did = F.col("doc_id")
    ds = did.cast("string")

    def page_url(d):
        return F.concat(
            F.lit("https://h"),
            (d % 5).cast("string"),
            F.lit(".example/d"),
            d.cast("string"),
        )

    atext = F.array_join(
        F.slice(F.filter(F.split("text", " "), lambda x: x != F.lit("")), 1, 8),
        " ",
    )
    html = F.concat(
        F.lit('<p>x</p><a href="'),
        page_url(did + 1),
        F.lit('">'),
        atext,
        F.lit('</a><a rel=nofollow href="'),
        page_url(did - (did % 10)),
        F.lit('">hub '),
        (did % 3).cast("string"),
        F.lit("</a>"),
        F.when(
            did % 6 == 0,
            F.lit('<a href="https://h0.example/d0"><b>nested</b></a>'),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit('<a href="/p'), ds, F.lit('">로컬 &amp; '), ds, F.lit("</a>")
            ),
        ).otherwise(F.lit("")),
        F.when(did % 9 == 0, F.lit('<a href="mailto:a@b.c">mail</a>')).otherwise(
            F.lit("")
        ),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        page_url(did).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )


def _q_anchor_texts(spark, sf_dir):
    """Anchor-text extraction (url, href, anchor): the direct-text
    capture, entity-decoded and whitespace-collapsed, on the lenient
    UTF-8 view; absolutization shared with extract_links. Zero
    exchanges (per-row map + one Generate)."""
    from mecab_ko_lucene_analyzer_spark.functions.webgraph import (
        extract_anchor_texts,
    )

    return extract_anchor_texts(_anchor_pages(spark, sf_dir))


def _q_incoming_anchors(spark, sf_dir):
    """Per-target anchor pool (url, anchor, n_incoming): anchors of
    links pointing at pages that exist in the corpus — one hash join
    on the canonical target url + one map-side-combined hash agg."""
    from mecab_ko_lucene_analyzer_spark.functions.webgraph import (
        extract_anchor_texts,
        incoming_anchors,
    )

    pages = _anchor_pages(spark, sf_dir)
    return incoming_anchors(extract_anchor_texts(pages), pages)


def _q_anchor_bm25f_topk(spark, sf_dir):
    """BM25F (simplified / Lucene combined-field) top-10 over body
    text (w=1) + incoming anchor text (w=2): per-field tfs and lengths
    pool into one virtual document via a weighted union, then standard
    BM25 — one hash-aggregate pipeline, corpus scalars on a broadcast
    1-row cross-join, TakeOrdered top-k."""
    from mecab_ko_lucene_analyzer_spark.functions.webgraph import (
        extract_anchor_texts,
    )
    from mecab_ko_lucene_analyzer_spark.query.bm25f import bm25f_topk

    pages = _anchor_pages(spark, sf_dir)
    anchors = extract_anchor_texts(pages)
    atoks = (
        anchors.select(F.col("href").alias("url"), "anchor")
        .join(pages.select("doc_id", "url"), "url")
        .select(
            "doc_id",
            F.explode(
                F.filter(F.split("anchor", " "), lambda x: x != F.lit(""))
            ).alias("term"),
        )
    )
    return bm25f_topk(
        [(_tokens(spark, sf_dir), 1.0), (atoks, ANCHOR_W)], BM25_QUERY, k=10
    )


def _q_extract_title(spark, sf_dir):
    """<title> extraction (doc_id, title): first-title-wins, direct
    text (nested markup ends the capture), entity-decoded,
    whitespace-collapsed, '' when absent — the title FIELD source
    (build_and_write(with_titles=True)). Injection exercises: no
    title, plain, uppercase+attrs+entity, two titles, nested markup.
    Zero exchanges."""
    from mecab_ko_lucene_analyzer_spark.sources.webpages import title_of

    did = F.col("doc_id")
    body = F.array_join(
        F.slice(F.filter(F.split("text", " "), lambda x: x != F.lit("")), 1, 6),
        " ",
    )
    html = (
        F.when(did % 5 == 0, F.lit("<head></head>"))
        .when(did % 5 == 1, F.concat(F.lit("<head><title>"), body, F.lit("</title></head>")))
        .when(
            did % 5 == 2,
            F.concat(
                F.lit('<head><TITLE class="t"> 제목 &amp; '),
                body,
                F.lit(" </TITLE></head>"),
            ),
        )
        .when(
            did % 5 == 3,
            F.concat(
                F.lit("<head><title>first "),
                did.cast("string"),
                F.lit("</title><title>second</title></head>"),
            ),
        )
        .otherwise(
            F.concat(F.lit("<head><title>부분 <b>markup</b> "), body, F.lit("</title></head>"))
        )
    )
    pages = _docs(spark, sf_dir).select(
        "doc_id", F.encode(F.concat(html, F.lit("<body>x</body>")), "utf-8").alias("html")
    )
    return pages.select("doc_id", title_of("html").alias("title"))


def _q_boosted_bm25_topk(spark, sf_dir):
    """BM25 blended with the PageRank host-centrality prior (score' =
    bm25 + w·ln(1 + rank·N), Brin & Page §4.5.1): the webgraph signal
    feeding retrieval, not just curation. The blend joins BEFORE the
    top-k cut; boost rows come from the real ``doc_boost_table``
    operator over a (doc_id, url) doc_map of the webgraph injection.
    Oracle chains the unrolled-PageRank CTEs with the BM25 CTEs."""
    from mecab_ko_lucene_analyzer_spark.functions.webgraph import (
        doc_boost_table,
        extract_links,
        host_graph,
        pagerank,
    )
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_partial_col, idf_col

    edges = host_graph(extract_links(_webgraph_pages(spark, sf_dir)))
    ranks = pagerank(edges, weight="n_links", iters=3)
    did = F.col("doc_id")
    doc_map = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://h"),
            (did % 5).cast("string"),
            F.lit(".example/d"),
            did.cast("string"),
        ).alias("url"),
    )
    boosts = doc_boost_table(doc_map, ranks)

    toks = _tokens(spark, sf_dir)
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("doc_len"))
    scalars = dl.agg(
        F.count("*").cast("double").alias("n"), F.avg("doc_len").alias("avgdl")
    )
    tfs = (
        toks.filter(F.col("term").isin(BM25_QUERY))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfs = tfs.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    base = (
        tfs.join(F.broadcast(dfs), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scalars))
        .withColumn("idf", idf_col(F.col("n"), F.col("df")))
        .withColumn(
            "partial",
            bm25_partial_col(
                F.col("idf"), F.col("tf"), F.col("doc_len"), F.col("avgdl")
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("base"))
    )
    return (
        base.join(boosts, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.col("base")
                + F.lit(BOOST_W) * F.coalesce(F.col("boost"), F.lit(0.0)),
                6,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _ws_index(spark, sf_dir):
    """Whitespace-token ``InvertedIndex`` over ``documents`` — puts the
    REAL query operators (``query/bm25.py``, ``query/expand.py``) under
    the DuckDB oracle instead of inlined formula copies."""
    from mecab_ko_lucene_analyzer_spark.index.build import InvertedIndex

    toks = _tokens(spark, sf_dir)
    postings = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    term_stats = postings.groupBy("term").agg(F.count("*").alias("df"))
    doc_stats = toks.groupBy("doc_id").agg(F.count("*").alias("doc_len"))
    corpus = doc_stats.agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )
    return InvertedIndex(postings, term_stats, doc_stats, corpus)


#: multi-term query-rewrite contract (session 13): prefix and fuzzy
#: retrieval — Lucene PrefixQuery / FuzzyQuery expansion against the
#: vocabulary, scored as a disjunctive BM25 OR. ``s`` expands to 6
#: vocabulary terms; ``sor`` within 2 edits hits sort(1)/slow(2)/row(2)
#: — multiple distances, so the expansion RANKING is what the oracle
#: locks, not just membership.
PREFIX_QUERY = "s"
PREFIX_K = 20
FUZZY_QUERY = "sor"
FUZZY_MAX_EDITS = 2
FUZZY_K = 20
EXPANSION_CAP = 50


def _q_prefix_topk(spark, sf_dir):
    """Prefix retrieval (Lucene ``PrefixQuery`` top-terms rewrite):
    ``query/expand.py::prefix_expand_terms`` (df-desc expansion, the
    bounded vocabulary collect) + the shared disjunctive scorer.
    Rounding applies before the rank cut, as in ``msm_topk``."""
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored
    from mecab_ko_lucene_analyzer_spark.query.expand import (
        prefix_expand_terms,
    )

    idx = _ws_index(spark, sf_dir)
    terms = prefix_expand_terms(idx.term_stats, PREFIX_QUERY, EXPANSION_CAP)
    return (
        bm25_scored(idx, terms)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(PREFIX_K)
    )


def _q_fuzzy_topk(spark, sf_dir):
    """Fuzzy retrieval (Lucene ``FuzzyQuery``): Levenshtein expansion
    within FUZZY_MAX_EDITS (exact term included at dist 0; ranked dist
    asc / df desc / term asc, capped at EXPANSION_CAP) through
    ``query/expand.py::fuzzy_expand_terms``, scored disjunctively."""
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored
    from mecab_ko_lucene_analyzer_spark.query.expand import (
        fuzzy_expand_terms,
    )

    idx = _ws_index(spark, sf_dir)
    terms = [
        r["term"]
        for r in fuzzy_expand_terms(
            idx.term_stats,
            FUZZY_QUERY,
            max_edits=FUZZY_MAX_EDITS,
            max_expansions=EXPANSION_CAP,
        ).collect()
    ]
    return (
        bm25_scored(idx, terms)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(FUZZY_K)
    )


#: compound-query contract (session 16): ES dis_max / boosting /
#: constant_score / wildcard / match_phrase_prefix. The dis_max
#: clauses overlap nothing, but the law under test (max + tb*(sum-max)
#: over per-clause BM25 sums) is replayed coalesce-for-coalesce in the
#: oracle. PP_CAP = 4 makes the prefix-expansion budget BINDING ('s'
#: matches 6 vocabulary terms) so the df-desc top-terms rewrite is
#: part of what the oracle locks.
DISMAX_CLAUSES: list[list[str]] = [["spark", "query"], ["data", "join"]]
DISMAX_TB = 0.3
DISMAX_K = 15
BOOSTING_NEG = ["batch"]
BOOSTING_NB = 0.4
CONST_TERMS = ["group", "window"]
CONST_BOOST = 1.5
WILDCARD_PATTERN = "s?a*"  # translates to s.a.* → {scan, small, spark}
# the oracle walks the vocabulary with the SAME translated regex the
# engine uses — imported, not copied, so the translation cannot drift
from mecab_ko_lucene_analyzer_spark.query.compound import (  # noqa: E402
    wildcard_to_regexp as _wildcard_to_regexp,
)

WILDCARD_RE = _wildcard_to_regexp(WILDCARD_PATTERN)
PP_FIRST = ["big"]
PP_PREFIX = "s"
PP_CAP = 4


def _q_dis_max_topk(spark, sf_dir):
    """ES ``dis_max`` (``query/compound.py::dis_max_topk``) — the
    scoring law under every best_fields ``multi_match`` the reference
    emits (`DanawaSearchQueryBuilder.java:178`): per clause a BM25 OR
    sum, per doc ``max + DISMAX_TB * (sum − max)`` over matching
    clauses, one IN-pruned postings scan + one per-doc aggregate."""
    from mecab_ko_lucene_analyzer_spark.query.compound import dis_max_scored

    return (
        dis_max_scored(_ws_index(spark, sf_dir), DISMAX_CLAUSES, DISMAX_TB)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(DISMAX_K)
    )


def _q_boosting_topk(spark, sf_dir):
    """ES ``boosting`` query (``query/compound.py::boosting_topk``):
    BM25_QUERY-scored docs, demoted ×BOOSTING_NB when they also match
    a BOOSTING_NEG term — demotion BEFORE the top-k cut, nothing
    excluded (the contrast with must_not)."""
    from mecab_ko_lucene_analyzer_spark.query.compound import (
        boosting_scored,
    )

    return (
        boosting_scored(
            _ws_index(spark, sf_dir), BM25_QUERY, BOOSTING_NEG, BOOSTING_NB
        )
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(DISMAX_K)
    )


def _q_constant_score(spark, sf_dir):
    """ES ``constant_score`` (``query/compound.py::
    constant_score_docs``): every CONST_TERMS-matching doc scores
    exactly CONST_BOOST — no stats join, no idf math, the
    filter-context wrapper Lucene rewrites multi-term queries to."""
    from mecab_ko_lucene_analyzer_spark.query.compound import (
        constant_score_docs,
    )

    return constant_score_docs(
        _ws_index(spark, sf_dir), CONST_TERMS, CONST_BOOST
    )


def _q_wildcard_topk(spark, sf_dir):
    """Lucene ``WildcardQuery`` (``query/compound.py::wildcard_topk``):
    ``*``/``?`` translated to the portable regex core, expanded via the
    vocabulary automaton walk, scored disjunctively — the same
    top-terms rewrite law as ``regexp_topk``."""
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored
    from mecab_ko_lucene_analyzer_spark.query.compound import (
        wildcard_expand_terms,
    )

    idx = _ws_index(spark, sf_dir)
    terms = wildcard_expand_terms(
        idx.term_stats, WILDCARD_PATTERN, EXPANSION_CAP
    )
    return (
        bm25_scored(idx, terms)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(PREFIX_K)
    )


def _q_phrase_prefix_match(spark, sf_dir):
    """ES ``match_phrase_prefix`` (``query/compound.py::
    phrase_prefix_docs``): PP_FIRST followed immediately by a
    PP_PREFIX-prefixed term, the last position expanded under the
    BINDING PP_CAP budget (df desc / term asc — the rewrite law).
    Evaluated on the positions-carrying block index via the shared
    ``phrase_reach`` DP; phrase score is 0 by contract
    (`DanawaSearchQueryBuilder.java:287-291`), so the match SET is the
    result."""
    from mecab_ko_lucene_analyzer_spark.query.compound import (
        phrase_prefix_docs,
    )
    from mecab_ko_lucene_analyzer_spark.query.expand import (
        prefix_expand_terms,
    )

    blocks, term_stats, _n, _avgdl = _ws_block_index(spark, sf_dir)
    exps = prefix_expand_terms(term_stats, PP_PREFIX, PP_CAP)
    return phrase_prefix_docs(blocks, PP_FIRST, exps)


def _q_msm_topk(spark, sf_dir):
    """Disjunctive BM25 with Elasticsearch's ``minimum_should_match``:
    only docs matching >= MSM_MIN_MATCH distinct query terms score
    (``query/bm25.py::bm25_scored(min_should_match=...)``). Rounding
    applies BEFORE the rank cut so the oracle's ordering is identical."""
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored

    return (
        bm25_scored(
            _ws_index(spark, sf_dir),
            BM25_QUERY,
            min_should_match=MSM_MIN_MATCH,
        )
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_mlt_topk(spark, sf_dir):
    """More-like-this (Lucene ``MoreLikeThis``): the seed doc's
    tf·idf-top MLT_M_TERMS terms as a disjunctive BM25 query, seed
    excluded (``query/expand.py::mlt_seed_terms`` + the shared scorer)."""
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored
    from mecab_ko_lucene_analyzer_spark.query.expand import mlt_seed_terms

    idx = _ws_index(spark, sf_dir)
    # seed (term, tf) from a doc_id-pruned scan of the SOURCE document
    # (same whitespace split as the index, so tf is identical) instead
    # of filtering the whole term-keyed postings relation by doc_id —
    # the round-5 verdict's flagged scale-killer; built indexes route
    # through the doc-keyed forward table instead (index/build.py
    # with_forward)
    seed = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") == MLT_SEED_DOC)
        .select(
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != F.lit(""))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    terms = mlt_seed_terms(
        idx, MLT_SEED_DOC, m_terms=MLT_M_TERMS, seed_postings=seed
    )
    return (
        bm25_scored(idx, terms)
        .filter(F.col("doc_id") != MLT_SEED_DOC)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_related_terms(spark, sf_dir):
    """Corpus-mined query expansion: top terms by document-level PMI
    with RELATED_SEED (``query/expand.py::related_terms``). The
    top-k cut orders on ROUNDED pmi (term asc tiebreak) so both
    engines rank identically; the library's own cut is disabled by a
    k far above the vocabulary size."""
    from mecab_ko_lucene_analyzer_spark.query.expand import related_terms

    return (
        related_terms(
            _ws_index(spark, sf_dir),
            RELATED_SEED,
            k=1_000_000,
            min_co=RELATED_MIN_CO,
        )
        .select("term", "n_co", F.round("pmi", 6).alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("term"))
        .limit(10)
    )


def _q_suggest_terms(spark, sf_dir):
    """Did-you-mean (Lucene ``DirectSpellChecker``): vocabulary terms
    within SUGGEST_MAX_EDITS Levenshtein edits of SUGGEST_SEED, ranked
    dist asc / df desc / term asc (``query/expand.py::suggest_terms``).
    Integer/string keys only — bit-deterministic across engines."""
    from mecab_ko_lucene_analyzer_spark.query.expand import suggest_terms

    return suggest_terms(
        _ws_index(spark, sf_dir),
        SUGGEST_SEED,
        k=10,
        max_edits=SUGGEST_MAX_EDITS,
    ).select("term", "df", F.col("dist").cast("long").alias("dist"))


def _q_freshness_boost(spark, sf_dir):
    """Recency prior (``functions/freshness.py::freshness_boost_table``)
    over a deterministic synthetic fetch timestamp (epoch + doc_id
    hours — documents carries no ts column): boost = 2^(-age_days /
    half_life) against the corpus max timestamp."""
    from mecab_ko_lucene_analyzer_spark.functions.freshness import (
        freshness_boost_table,
    )

    doc_ts = _docs(spark, sf_dir).select(
        "doc_id",
        F.timestamp_seconds(
            F.lit(FRESH_EPOCH) + F.col("doc_id") * FRESH_STEP_S
        ).alias("warc_ts"),
    )
    return freshness_boost_table(
        doc_ts, half_life_days=FRESH_HALF_LIFE_DAYS
    ).select("doc_id", F.round("boost", 6).alias("boost"))


#: hybrid-retrieval contract (session 14): RRF fusion of the lexical
#: BM25 ranking and the embedding-cosine ranking (query vector =
#: embeddings row 0, which aligns with doc_id by corpus contract).
#: Both sides round scores to 6 BEFORE ranking so ranks are
#: engine-deterministic; k_rrf=60 is the SIGIR'09 / ES default.
RRF_N_CANDIDATES = 50
RRF_QUERY_VEC = 0
#: C4-style word blocklist for the curation contract query: a common
#: word, the rare planted-dup marker, and a stopword — coverage of
#: high-df, low-df, and stopword classes in the synthetic vocabulary.
BLOCKLIST_WORDS = ["slow", "dup", "the"]


def _q_rrf_fusion_topk(spark, sf_dir):
    """Hybrid search (``query/fusion.py::hybrid_bm25_cosine_topk``):
    Reciprocal Rank Fusion of BM25(BM25_QUERY) over the whitespace
    index and cosine-to-vector-0 over ``embeddings`` — rank-based
    combination needs no score calibration between the incomparable
    scales (Cormack et al., SIGIR 2009; the ES ``rrf`` retriever)."""
    from mecab_ko_lucene_analyzer_spark.query.fusion import (
        hybrid_bm25_cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return hybrid_bm25_cosine_topk(
        _ws_index(spark, sf_dir),
        BM25_QUERY,
        emb,
        RRF_QUERY_VEC,
        k=10,
        n_candidates=RRF_N_CANDIDATES,
    )


def _q_explain_score(spark, sf_dir):
    """Score explanation relation (``query/explain.py::explain_terms``
    — the ES ``_explain`` / Lucene ``Explanation`` components): every
    (doc, term) BM25 partial for BM25_QUERY with its inputs
    ``(tf, df, idf)``. ``groupBy(doc_id).sum(partial)`` reproduces
    ``bm25_scored`` exactly (pinned in tests); idf and partial round
    to 6 on both engines."""
    from mecab_ko_lucene_analyzer_spark.query.explain import explain_terms

    out = explain_terms(_ws_index(spark, sf_dir), BM25_QUERY, round_digits=6)
    return out.select(
        "doc_id", "term", "tf", "df", F.round("idf", 6).alias("idf"), "partial"
    )


def _q_collapse_topk(spark, sf_dir):
    """ES field collapsing (``query/aggs.py::collapse_topk``): top-1
    doc per ``documents.source`` over the BM25_QUERY ranking, then the
    top 10 rows — SERP same-site dedup. Scores round to 6 before the
    per-group window so ranks are engine-deterministic."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import collapse_topk
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored

    scored = bm25_scored(_ws_index(spark, sf_dir), BM25_QUERY).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    return collapse_topk(
        scored, _docs(spark, sf_dir).select("doc_id", "source"), "source", k=10
    )


def _q_blocklist_stats(spark, sf_dir):
    """C4-style word-blocklist measurement
    (``functions/curation.py::blocklist_stats``): per-doc blocked-token
    count and fraction against BLOCKLIST_WORDS (token-exact,
    case-insensitive). Counts cast to BIGINT on both engines."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import (
        blocklist_stats,
    )

    out = blocklist_stats(_docs(spark, sf_dir), BLOCKLIST_WORDS)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("blocked_tokens").cast("long").alias("blocked_tokens"),
        "blocked_frac",
    )


def _q_term_vectors(spark, sf_dir):
    """ES ``_termvectors`` (``functions/text.py::term_vectors``):
    per-doc (term, tf, positions) — the per-doc view of exactly what
    the inverted index stores. Positions render as a CSV string for
    the cross-engine hash (0-based, ascending)."""
    from mecab_ko_lucene_analyzer_spark.functions.text import term_vectors

    out = term_vectors(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "term",
        "tf",
        F.array_join(
            F.transform(F.col("positions"), lambda p: p.cast("string")), ","
        ).alias("positions_csv"),
    )


#: session-15 search-surface contract constants. The regexp exercises
#: alternation + classes in the portable RE core (matches slow / scan /
#: sort / stream in the synthetic vocabulary); the filter/sort/agg
#: queries all run over the BM25_QUERY match set with ``n_chars`` as
#: the numeric attribute (the only numeric column on documents).
REGEXP_PATTERN = "s(low|can|ort)|.*eam"
FILTER_MIN_CHARS = 300
HIST_INTERVAL = 50.0
PCT_PERCENTS = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)


def _q_regexp_topk(spark, sf_dir):
    """Regexp retrieval (Lucene ``RegexpQuery``, full-string automaton
    semantics — ``query/expand.py::regexp_expand_terms``): vocabulary
    expansion ranked df desc / term asc under the top-terms budget,
    scored as a disjunctive BM25 OR. Rounding before the rank cut."""
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored
    from mecab_ko_lucene_analyzer_spark.query.expand import (
        regexp_expand_terms,
    )

    idx = _ws_index(spark, sf_dir)
    terms = regexp_expand_terms(idx.term_stats, REGEXP_PATTERN, EXPANSION_CAP)
    return (
        bm25_scored(idx, terms)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(PREFIX_K)
    )


def _q_filtered_topk(spark, sf_dir):
    """ES bool FILTER context (``query/bm25.py::filtered_topk``):
    BM25_QUERY scored hits restricted to docs with ``n_chars >=
    FILTER_MIN_CHARS`` — the filter matches but never scores, so
    surviving docs keep the identical unfiltered scores (the law
    ``tests`` pin). Semi join BEFORE the top-k cut."""
    from mecab_ko_lucene_analyzer_spark.query.bm25 import filtered_topk

    flt = (
        _docs(spark, sf_dir)
        .filter(F.col("n_chars") >= FILTER_MIN_CHARS)
        .select("doc_id")
    )
    return filtered_topk(
        _ws_index(spark, sf_dir), BM25_QUERY, flt, k=10
    ).select("doc_id", F.round("score", 6).alias("score"))


def _q_sort_by_field(spark, sf_dir):
    """ES ``sort``-by-field search (``query/aggs.py::sort_topk``): the
    top 10 BM25_QUERY-matching docs by ``n_chars`` desc (NULLS LAST,
    doc_id asc tie-break) — scoring skipped entirely, exactly like ES
    when ``sort`` replaces ``_score``."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import sort_topk

    return sort_topk(
        _ws_index(spark, sf_dir),
        BM25_QUERY,
        _docs(spark, sf_dir).select("doc_id", "n_chars"),
        "n_chars",
        k=10,
    ).select("doc_id", F.col("sort_value").cast("long").alias("sort_value"))


def _q_percentiles_agg(spark, sf_dir):
    """ES ``percentiles`` metric aggregation (``query/aggs.py::
    percentiles_agg``): exact linear-interpolated percentiles (the
    ANSI percentile_cont law on both engines) of ``n_chars`` over the
    BM25_QUERY match set, at the ES default percent list."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import percentiles_agg

    return percentiles_agg(
        _ws_index(spark, sf_dir),
        BM25_QUERY,
        _docs(spark, sf_dir).select("doc_id", "n_chars"),
        "n_chars",
        percents=PCT_PERCENTS,
    ).select("pct", F.round("value", 6).alias("value"))


def _q_cardinality_agg(spark, sf_dir):
    """ES ``cardinality`` metric aggregation (``query/aggs.py::
    cardinality_agg``, exact baseline — the HLL++ scale path is the
    ``exact=False`` branch): distinct ``documents.source`` values
    among the BM25_QUERY-matching docs."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import cardinality_agg

    return cardinality_agg(
        _ws_index(spark, sf_dir),
        BM25_QUERY,
        _docs(spark, sf_dir).select("doc_id", "source"),
        "source",
    )


def _q_histogram_agg(spark, sf_dir):
    """ES numeric ``histogram`` aggregation (``query/aggs.py::
    histogram_agg``): BM25_QUERY match counts per ``n_chars`` bucket
    of width HIST_INTERVAL (``floor(v/interval)*interval``), bucket
    ascending, empty buckets omitted."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import histogram_agg

    return histogram_agg(
        _ws_index(spark, sf_dir),
        BM25_QUERY,
        _docs(spark, sf_dir).select("doc_id", "n_chars"),
        "n_chars",
        HIST_INTERVAL,
    )


#: agg batch 2 (session 16): range / extended_stats / weighted_avg /
#: composite pagination / filters. RANGE_BOUNDS includes an
#: impossible tail range so the every-configured-bucket law (count 0)
#: is under the driver hash; COMPOSITE_SIZE = 5 over 97 (source,
#: lang) buckets makes page 2 a full, non-trivial page.
RANGE_BOUNDS: list[tuple[float | None, float | None]] = [
    (None, 150.0),
    (150.0, 300.0),
    (300.0, 450.0),
    (450.0, None),
    (600.0, None),
]
ESTATS_SIGMA = 2.0
# bucket keys rendered by the SHARED helper on both sides
from mecab_ko_lucene_analyzer_spark.query.aggs import (  # noqa: E402
    range_key as _range_key,
)
WAVG_WEIGHT_MOD = 7
COMPOSITE_SIZE = 5
FILTERS_SPEC: dict[str, list[str]] = {
    "compute": ["scan", "join", "agg"],
    "storage": ["table", "row", "column"],
    "nohit": ["zzzz"],
}


def _q_range_agg(spark, sf_dir):
    """ES ``range`` aggregation (``query/aggs.py::range_agg``):
    BM25_QUERY match counts per half-open ``[from, to)`` n_chars
    range — every configured range appears (the 600-* bucket is
    impossible and must surface as 0)."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import range_agg

    return range_agg(
        _ws_index(spark, sf_dir),
        BM25_QUERY,
        _docs(spark, sf_dir).select("doc_id", "n_chars"),
        "n_chars",
        RANGE_BOUNDS,
    )


def _q_extended_stats_agg(spark, sf_dir):
    """ES ``extended_stats`` (``query/aggs.py::extended_stats_agg``):
    population variance = ``sum_of_squares/count − avg²`` in the same
    IEEE expression order on both engines, bounds ``avg ±
    ESTATS_SIGMA·std``."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import (
        extended_stats_agg,
    )

    return extended_stats_agg(
        _ws_index(spark, sf_dir),
        BM25_QUERY,
        _docs(spark, sf_dir).select("doc_id", "n_chars"),
        "n_chars",
        sigma=ESTATS_SIGMA,
    ).select(
        "count",
        "min",
        "max",
        F.round("avg", 6).alias("avg"),
        F.round("sum", 6).alias("sum"),
        F.round("sum_of_squares", 6).alias("sum_of_squares"),
        F.round("variance", 6).alias("variance"),
        F.round("std_deviation", 6).alias("std_deviation"),
        F.round("upper", 6).alias("upper"),
        F.round("lower", 6).alias("lower"),
    )


def _q_weighted_avg_agg(spark, sf_dir):
    """ES ``weighted_avg`` + ``value_count`` (``query/aggs.py::
    weighted_avg_agg``): Σv·w/Σw of n_chars weighted by the
    deterministic ``doc_id % WAVG_WEIGHT_MOD + 1`` synthetic weight
    over the BM25_QUERY match set."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import weighted_avg_agg

    attrs = _docs(spark, sf_dir).select(
        "doc_id",
        "n_chars",
        (F.col("doc_id") % WAVG_WEIGHT_MOD + 1).alias("weight"),
    )
    return weighted_avg_agg(
        _ws_index(spark, sf_dir), BM25_QUERY, attrs, "n_chars", "weight"
    ).select(
        "value_count", F.round("weighted_avg", 6).alias("weighted_avg")
    )


def _q_composite_agg(spark, sf_dir):
    """ES ``composite`` aggregation page 2 (``query/aggs.py::
    composite_agg``): (source, lang) buckets of the BM25_QUERY match
    set in composite-key order, COMPOSITE_SIZE per page; the after-key
    cursor is page 1's last key (a bounded ≤1-row driver fetch — the
    ``search_after_page`` pattern). The keyset filter applies to the
    BUCKET space, so page N costs page 1."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import composite_agg

    idx = _ws_index(spark, sf_dir)
    attrs = _docs(spark, sf_dir).select("doc_id", "source", "lang")
    p1 = composite_agg(
        idx, BM25_QUERY, attrs, ["source", "lang"], size=COMPOSITE_SIZE
    ).collect()
    after = (p1[-1]["source"], p1[-1]["lang"])
    return composite_agg(
        idx,
        BM25_QUERY,
        attrs,
        ["source", "lang"],
        size=COMPOSITE_SIZE,
        after=after,
    )


#: terms_set per-doc threshold law: doc_id % 3 + 1 over the 3-term
#: BM25_QUERY — thresholds 1, 2 and 3 all exercised
TERMS_SET_K = 15


def _q_adjacency_matrix(spark, sf_dir):
    """ES ``adjacency_matrix`` (``query/aggs.py::
    adjacency_matrix_agg``): FILTERS_SPEC's named buckets plus every
    pair intersection (``a&b`` keys), zero counts kept — distinct
    (bucket, doc) relation from one IN-pruned scan, pairs via one
    doc_id-keyed self-join bounded by the match counts."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import (
        adjacency_matrix_agg,
    )

    return adjacency_matrix_agg(_ws_index(spark, sf_dir), FILTERS_SPEC)


def _q_terms_set_topk(spark, sf_dir):
    """ES ``terms_set`` query (``query/aggs.py::terms_set_scored``):
    each doc's own ``minimum_should_match`` threshold
    (``doc_id % 3 + 1``) gates the disjunctive BM25_QUERY match;
    surviving docs keep the plain OR-sum scores. Rounding before the
    rank cut, as in ``msm_topk``."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import terms_set_scored

    req = _docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 3 + 1).alias("required_matches")
    )
    return (
        terms_set_scored(_ws_index(spark, sf_dir), BM25_QUERY, req)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(TERMS_SET_K)
    )


#: date_range bounds (epoch seconds, the freshness ts convention);
#: the +1000 h lower bound is past the corpus -> a mandatory 0 bucket
DATE_RANGES: list[tuple[int | None, int | None]] = [
    (None, FRESH_EPOCH + 100 * 3600),
    (FRESH_EPOCH + 100 * 3600, FRESH_EPOCH + 300 * 3600),
    (FRESH_EPOCH + 300 * 3600, None),
    (FRESH_EPOCH + 1000 * 3600, None),
]
#: missing-agg law: every 7th doc's source is NULLed
MISSING_MOD = 7


def _q_date_range_agg(spark, sf_dir):
    """ES ``date_range`` (``query/aggs.py::date_range_agg``): the
    BM25_QUERY match set bucketed by half-open epoch-second ranges of
    the synthetic fetch timestamp — every configured range kept (the
    past-the-corpus bucket must read 0)."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import date_range_agg

    ts = _docs(spark, sf_dir).select(
        "doc_id",
        (F.lit(FRESH_EPOCH) + F.col("doc_id") * FRESH_STEP_S).alias("ts"),
    )
    return date_range_agg(
        _ws_index(spark, sf_dir), BM25_QUERY, ts, "ts", DATE_RANGES
    )


def _q_missing_agg(spark, sf_dir):
    """ES ``missing`` aggregation (``query/aggs.py::missing_agg``):
    matching docs whose (synthetically NULLed — every MISSING_MOD-th
    doc) source attribute is absent."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import missing_agg

    attrs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % MISSING_MOD != 0, F.col("source")).alias(
            "source"
        ),
    )
    return missing_agg(_ws_index(spark, sf_dir), BM25_QUERY, attrs, "source")


def _q_filters_agg(spark, sf_dir):
    """ES ``filters`` aggregation (``query/aggs.py::filters_agg``):
    three NAMED buckets counting distinct docs per OR term-bag from
    one IN-pruned postings scan — the impossible bag surfaces as 0."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import filters_agg

    return filters_agg(_ws_index(spark, sf_dir), FILTERS_SPEC)


#: batch 3 (session 16): corpus-curation LM ladder + keyword
#: extraction + the ES phrase suggester.
TFIDF_K = 3
SUGGEST_PHRASE = ["spark", "qurey", "tabel"]
SUGGEST_PHRASE_MAX_EDITS = 2
# imported, not copied: the oracle's stopword contains-sum is
# generated from the SAME list the Spark flag reads
from mecab_ko_lucene_analyzer_spark.functions.curation import (  # noqa: E402
    GOPHER_STOPWORDS as _GOPHER_STOPWORDS,
)


def _q_tfidf_keywords(spark, sf_dir):
    """Per-doc tf-idf keyword extraction (``functions/text.py::
    tfidf_keywords``): top TFIDF_K terms per doc by ``tf·ln(N/df)``.
    Ranking runs on the ROUNDED score (term-asc tiebreak) on both
    engines so the window rank is ulp-immune."""
    from pyspark.sql import Window

    idx = _ws_index(spark, sf_dir)
    n_docs = idx.corpus_stats.first()["n_docs"]
    scored = idx.postings.join(
        idx.term_stats.select("term", "df"), "term"
    ).select(
        "doc_id",
        "term",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_K)
        .select("doc_id", "term", "score", "rank")
    )


def _q_gopher_rules(spark, sf_dir):
    """Gopher quality-rule battery (``functions/curation.py::
    gopher_rules``, Rae et al. 2021): each published rule as a NAMED
    boolean flag + the conjunctive ``gopher_pass`` — the per-rule
    ablation columns every corpus paper reports. Pure Catalyst array
    expressions, zero shuffles."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import (
        gopher_rules,
    )

    return gopher_rules(_docs(spark, sf_dir))


def _q_bigram_logprob(spark, sf_dir):
    """Bigram-LM perplexity proxy (``functions/curation.py::
    bigram_logprob``): per-doc mean ``ln P(w_i|w_{i-1})`` with
    add-one smoothing under the corpus's own bigram distribution —
    the LM-filter rung above ``unigram_logprob`` (word-salad scores
    low even when its unigrams are common)."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import (
        bigram_logprob,
    )

    return bigram_logprob(_docs(spark, sf_dir))


def _q_phrase_suggest(spark, sf_dir):
    """ES ``phrase`` suggester (``query/expand.py::phrase_suggest``):
    per-position did-you-mean over SUGGEST_PHRASE — dist asc / df desc
    / term asc candidate law (the ``suggest_terms`` ranking), in-vocab
    positions keep themselves at dist 0. One vocabulary pass for all
    positions."""
    from mecab_ko_lucene_analyzer_spark.query.expand import phrase_suggest

    return phrase_suggest(
        _ws_index(spark, sf_dir),
        SUGGEST_PHRASE,
        max_edits=SUGGEST_PHRASE_MAX_EDITS,
    )


#: tumbling-window width for the streaming crawl-stats contract query
WINDOW_SECONDS = 21600  # 6 hours

#: robots.txt politeness contract: per-host robots TEXT (the Spark
#: side PARSES these with sources/robots.py; the oracle carries the
#: expected parse as literal rules — parser drift hash-mismatches).
#: Covers UA-group selection, empty Disallow, a doc-specific deep
#: allow, and an equal-length tie (allow wins).
ROBOTS_TXT: dict[str, str] = {
    "src0.example.com": "User-agent: *\nDisallow: /p\nAllow: /p1\n",
    "src1.example.com": (
        "User-agent: megabot\nAllow: /\n\n"
        "User-agent: *\nDisallow: /\n"
    ),
    "src2.example.com": (
        "User-agent: *\nDisallow: /p3/\nAllow: /p3/page122\nDisallow:\n"
    ),
    "src3.example.com": "User-agent: *\nDisallow: /p4\nAllow: /p4\n",
}
#: the expected parse of ROBOTS_TXT for UA '*' — the oracle's VALUES
ROBOTS_RULES: list[tuple[str, str, bool]] = [
    ("src0.example.com", "/p", False),
    ("src0.example.com", "/p1", True),
    ("src1.example.com", "/", False),
    ("src2.example.com", "/p3/", False),
    ("src2.example.com", "/p3/page122", True),
    ("src3.example.com", "/p4", False),
    ("src3.example.com", "/p4", True),
]


def _q_robots_allowed(spark, sf_dir):
    """robots.txt politeness (``sources/robots.py``): synthetic urls
    ``https://src{id%20}.example.com/p{id%7}/page{id}`` decided
    against PARSED per-host robots.txt (``parse_robots`` → RFC 9309
    longest-match, ``max(2·len + allow)`` parity law in
    ``robots_allowed``). The oracle replays the decision over the
    EXPECTED parse — a parser regression hash-mismatches here, not
    just in pytest."""
    from mecab_ko_lucene_analyzer_spark.sources.robots import (
        parse_robots,
        robots_allowed,
    )

    robots = spark.createDataFrame(
        list(ROBOTS_TXT.items()), "host string, robots_txt string"
    )
    did = F.col("doc_id")
    urls = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://src"),
            (did % 20).cast("string"),
            F.lit(".example.com/p"),
            (did % 7).cast("string"),
            F.lit("/page"),
            did.cast("string"),
        ).alias("url"),
    )
    return robots_allowed(urls, parse_robots(robots))

#: per-host quota for the host_cap contract query (over-cap hosts trim
#: to this many docs; the synthetic mega-host h0 holds half the corpus)
HOST_CAP = 40


def _q_host_cap(spark, sf_dir):
    """Per-host document quota (``functions/curation.py::
    cap_per_host`` — C4's "no host dominates the corpus" stage):
    synthetic urls put HALF the corpus on mega-host ``h0`` and spread
    the rest over ``h1..h9``; every over-cap host keeps its
    ``HOST_CAP`` smallest ``md5(hostcap-42-id)`` docs (ties by id),
    under-cap hosts pass untouched. The oracle replays the
    ``row_number`` law with the identical hash, so the partition-local
    pre-cut + window machinery is value-pinned by the driver."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import (
        cap_per_host,
    )

    did = F.col("doc_id")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://h"),
            F.when(did % 2 == 0, F.lit("0")).otherwise(
                ((did % 9) + 1).cast("string")
            ),
            F.lit(".example/p"),
            did.cast("string"),
        ).alias("url"),
    )
    return cap_per_host(docs, HOST_CAP)


#: session-window contract: 30-min event steps, 1-h gap → ids 1 and 2
#: apart merge (the INCLUSIVE gap boundary is part of the law), 3+
#: apart break; keyed on lang so sessions form nontrivially
SESSION_STEP_S = 1800
SESSION_GAP_S = 3600


def _q_session_stats(spark, sf_dir):
    """Gap-based session windows (``streaming/windowed.py::
    session_crawl_stats``, ``F.session_window``): documents as a
    per-lang event train (epoch + doc_id·30 min), sessions split on
    silences strictly longer than 1 h — Spark's inclusive gap
    boundary (an event at exactly ``prev + gap`` merges) is replayed
    in the oracle's gaps-and-islands form (``ts − lag(ts) > gap``
    breaks). Batch mode here; the streaming append-mode equivalence
    and watermark finalization are pinned by
    ``tests/test_streaming_windowed.py``."""
    from mecab_ko_lucene_analyzer_spark.streaming.windowed import (
        session_crawl_stats,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.timestamp_seconds(
            F.lit(FRESH_EPOCH) + F.col("doc_id") * SESSION_STEP_S
        ).alias("crawl_ts"),
        "lang",
        "n_chars",
    )
    return session_crawl_stats(
        docs, key_col="lang", gap=f"{SESSION_GAP_S} seconds"
    )


#: DSIR importance-resampling contract: target domain = the Korean
#: slice of the corpus; hashed unigram+bigram buckets
DSIR_DIM = 1024
DSIR_TARGET_LANG = "ko"
DSIR_K = 30
DSIR_SEED = 7


#: NB quality classifier feature dim (hashed unigram+bigram buckets)
NB_DIM = 2048


def _q_nb_quality(spark, sf_dir):
    """Supervised quality-classifier scores (``functions/curation.py::
    nb_quality_scores`` — the in-engine stand-in for the GPT-3/CCNet
    fasttext filter): multinomial-NB log-odds over hashed
    unigram+bigram buckets, trained on label = (lang == 'en') and
    scoring every doc. Closed-form (two aggregations, no iterations)
    precisely so the oracle can replay every number: identical md5
    bucket hashing, smoothed-log weight arithmetic, and doc-prior
    bias."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import (
        nb_quality_scores,
    )

    docs = _docs(spark, sf_dir)
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").alias("label")
    )
    return nb_quality_scores(
        docs.select("doc_id", "text"), labels, dim=NB_DIM
    ).select(
        "doc_id", "n_feats", F.round("nb_score", 6).alias("nb_score")
    )


def _q_dsir_logratio(spark, sf_dir):
    """DSIR importance scores (``functions/curation.py::
    dsir_logratio``, Xie et al. 2023): per-doc log importance weight
    under hashed-ngram bag LMs — target = the DSIR_TARGET_LANG slice,
    raw = the whole corpus. Both LMs are DSIR_DIM-bounded bucket
    aggregates; the log-prob table broadcasts. The oracle replays the
    identical md5-bucket hashing and smoothed-log arithmetic."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import (
        dsir_logratio,
    )

    docs = _docs(spark, sf_dir)
    return dsir_logratio(
        docs,
        docs.filter(F.col("lang") == DSIR_TARGET_LANG),
        dim=DSIR_DIM,
    ).select("doc_id", "n_feats", F.round("logratio", 6).alias("logratio"))


def _q_dsir_sample(spark, sf_dir):
    """DSIR's sampling-without-replacement step (``dsir_gumbel_topk``):
    top-DSIR_K by Gumbel-perturbed log weight, the Gumbel noise
    derived deterministically from ``md5(seed|doc_id)`` — selection ∝
    importance weights, identical on any partitioning / retry /
    engine. Ranking runs on the ROUNDED key (doc_id tiebreak) so the
    cut is ulp-immune."""
    from mecab_ko_lucene_analyzer_spark.functions.curation import (
        _H60,
        dsir_logratio,
    )
    from mecab_ko_lucene_analyzer_spark.functions.hashing import md5_h64

    docs = _docs(spark, sf_dir)
    scores = dsir_logratio(
        docs, docs.filter(F.col("lang") == DSIR_TARGET_LANG), dim=DSIR_DIM
    )
    u = (
        md5_h64(
            F.concat_ws("|", F.lit(str(DSIR_SEED)), F.col("doc_id"))
        ).cast("double")
        + 0.5
    ) / F.lit(_H60)
    key = F.round(F.col("logratio") + (-F.log(-F.log(u))), 6)
    return (
        scores.select("doc_id", key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(DSIR_K)
    )


def _q_streaming_window_stats(spark, sf_dir):
    """Watermarked event-time window aggregation (``streaming/
    windowed.py::windowed_crawl_stats``): documents replayed as a file
    stream with the synthetic fetch timestamp (epoch + doc_id hours,
    the ``freshness_boost``/``date_histogram`` convention), aggregated
    into 6-hour tumbling windows per source through Structured
    Streaming's state store (complete mode — the bounded-replay shape;
    the watermark late-drop law is pinned by
    ``tests/test_streaming_windowed.py``). Windows align to the epoch
    origin, so the oracle is pure integer arithmetic."""
    import shutil
    import tempfile

    from mecab_ko_lucene_analyzer_spark.streaming.windowed import (
        windowed_crawl_stats,
    )

    base = tempfile.mkdtemp(prefix="wstats_contract_")
    try:
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.timestamp_seconds(
                F.lit(FRESH_EPOCH) + F.col("doc_id") * FRESH_STEP_S
            ).alias("crawl_ts"),
            "source",
            "n_chars",
        )
        docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/in")
        stream = spark.readStream.schema(docs.schema).parquet(f"{base}/in")
        name = "wstats_contract"
        q = (
            windowed_crawl_stats(
                stream, window=f"{WINDOW_SECONDS} seconds", watermark="2 hours"
            )
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{base}/ckpt")
            .start()
        )
        q.awaitTermination()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "window_start long, source string, doc_count long, sum_chars long",
    )


SIGTERMS_K = 10
TOPHITS_BUCKETS = 5
TOPHITS_SIZE = 3
RESCORE_WINDOW = 50
RESCORE_WEIGHT = 1.0


def _q_significant_terms(spark, sf_dir):
    """ES ``significant_terms`` (``query/aggs.py::significant_terms``,
    JLH score): the terms most distinctive of the BM25_QUERY match set
    vs the corpus, query terms excluded. The JLH arithmetic runs in
    the same expression order on both engines (IEEE-deterministic);
    the output rounds to 6."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import significant_terms

    return significant_terms(
        _ws_index(spark, sf_dir), BM25_QUERY, k=SIGTERMS_K
    ).select("term", "fg_df", "bg_df", F.round("score", 6).alias("score"))


#: sampler agg: foreground = top-N matched docs by (rounded) BM25
SAMPLER_SIZE = 50
#: rare_terms agg bounds — the synthetic corpus's whitespace
#: vocabulary is tiny (31 terms, min df 25), so the contract query
#: injects a genuine long tail: one `zz<doc_id//3>` token per doc
#: (df = 3, with one df-2 remainder group). max_df 3 makes the cut
#: non-trivial at every sf.
RARE_MAX_DF = 3
RARE_K = 15


def _q_sampler_sigterms(spark, sf_dir):
    """ES ``sampler`` + ``significant_terms`` sub-agg (``query/aggs.py
    ::sampler_significant_terms``): significance over the top
    SAMPLER_SIZE BM25-ranked matching docs — the documented
    corpus-scale cost bound for significance. The BM25 rank key
    rounds to 6 before the cut so the sample boundary is identical
    across engines; JLH arithmetic and ordering as in
    ``significant_terms``."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import (
        sampler_significant_terms,
    )

    return sampler_significant_terms(
        _ws_index(spark, sf_dir),
        BM25_QUERY,
        sample_size=SAMPLER_SIZE,
        k=SIGTERMS_K,
        score_round=6,
    ).select("term", "fg_df", "bg_df", F.round("score", 6).alias("score"))


def _q_multi_terms(spark, sf_dir):
    """ES ``multi_terms`` (``query/aggs.py::multi_terms_agg``): top
    composite ``(source, lang)`` buckets by matching-doc count over
    the BM25_QUERY match set — doc_count desc, then each key component
    asc (the ES tie law); docs missing either key are skipped."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import multi_terms_agg

    attrs = _docs(spark, sf_dir).select("doc_id", "source", "lang")
    return multi_terms_agg(
        _ws_index(spark, sf_dir), BM25_QUERY, attrs, ["source", "lang"], k=8
    )


def _q_rare_terms(spark, sf_dir):
    """ES ``rare_terms`` (``query/aggs.py::rare_terms_agg``): the
    exact long-tail vocabulary — terms with df ≤ RARE_MAX_DF, df asc /
    term asc, first RARE_K (documented deviation: ES is approximate
    via CuckooFilter; this is the exact answer off term_stats). The
    vocabulary gets a synthetic ``zz<doc_id//3>`` tail token per doc
    (see RARE_MAX_DF note) so the cut selects real rows at every
    sf."""
    from mecab_ko_lucene_analyzer_spark.index.build import InvertedIndex
    from mecab_ko_lucene_analyzer_spark.query.aggs import rare_terms_agg

    tail = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("zz"),
            F.floor(F.col("doc_id") / 3).cast("long").cast("string"),
        ).alias("term"),
    )
    posts = (
        _tokens(spark, sf_dir)
        .unionByName(tail.select("doc_id", "term"))
        .distinct()
    )
    term_stats = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idx = InvertedIndex(posts, term_stats, term_stats, term_stats)
    return rare_terms_agg(idx, max_df=RARE_MAX_DF, k=RARE_K)


def _q_top_hits(spark, sf_dir):
    """ES ``terms`` + ``top_hits`` sub-aggregation (``query/aggs.py::
    top_hits_agg``): the top TOPHITS_BUCKETS ``documents.source``
    buckets by match count, each carrying its TOPHITS_SIZE best hits
    by (pre-rounded) BM25 score."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import top_hits_agg
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored

    idx = _ws_index(spark, sf_dir)
    scored = bm25_scored(idx, BM25_QUERY).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    return top_hits_agg(
        idx,
        BM25_QUERY,
        scored,
        _docs(spark, sf_dir).select("doc_id", "source"),
        "source",
        k_buckets=TOPHITS_BUCKETS,
        size=TOPHITS_SIZE,
    )


def _q_rescore_topk(spark, sf_dir):
    """ES ``rescore`` with a proximity query (``query/rescore.py::
    proximity_rescore``): the BM25_QUERY top-RESCORE_WINDOW window
    re-ranked by ``score + 1/(1 + min distinct-term position gap)``
    (score_mode total). Both engines window on the pre-rounded base
    score and round the rescored figure to 6."""
    from mecab_ko_lucene_analyzer_spark.query.bm25 import bm25_scored
    from mecab_ko_lucene_analyzer_spark.query.rescore import (
        proximity_rescore,
    )

    idx = _ws_index(spark, sf_dir)
    scored = bm25_scored(idx, BM25_QUERY).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("pos", "term"),
    )
    return proximity_rescore(
        scored,
        toks,
        BM25_QUERY,
        k=10,
        window=RESCORE_WINDOW,
        weight=RESCORE_WEIGHT,
        round_digits=6,
    )


#: percolator stored queries: all-high-df AND, mixed AND (with the
#: rare planted-dup marker), single-term, and an msm=2 disjunction —
#: the four match-shape classes.
PERCOLATE_QUERIES = [
    (0, ["spark", "query"]),
    (1, ["dup", "data"]),
    (2, ["slow"]),
    (3, ["scan", "merge", "vector"]),
]
PERCOLATE_MSM = 2
CHUNK_MAX_TOKENS = 40
CHUNK_STRIDE = 30
WSAMPLE_SCALE = 1000.0


def _q_percolate(spark, sf_dir):
    """Percolator / reverse search (``query/percolate.py``): stored
    queries 0-2 match conjunctively (ALL terms present), query 3 via
    ``min_should_match=2`` — both modes unioned, tagged by mode. The
    stored-query table broadcasts; the doc side is one distinct-token
    projection + one hash aggregate."""
    from mecab_ko_lucene_analyzer_spark.query.percolate import percolate

    toks = _tokens(spark, sf_dir)
    qdf = spark.createDataFrame(
        PERCOLATE_QUERIES[:3], "query_id long, terms array<string>"
    )
    qdf_msm = spark.createDataFrame(
        PERCOLATE_QUERIES[3:], "query_id long, terms array<string>"
    )
    conj = percolate(toks, qdf).withColumn("mode", F.lit("and"))
    msm = percolate(toks, qdf_msm, min_should_match=PERCOLATE_MSM).withColumn(
        "mode", F.lit("msm")
    )
    return conj.unionByName(msm).select(
        "doc_id", "query_id", F.col("n_matched").cast("long").alias("n_matched"), "mode"
    )


def _q_weighted_sample(spark, sf_dir):
    """Deterministic importance sampling (``functions/text.py::
    weighted_sample``): keep probability = clamp(n_chars/1000, 0, 1)
    — longer pages kept proportionally more often; md5-hash acceptance
    identical on both engines."""
    from mecab_ko_lucene_analyzer_spark.functions.text import (
        weighted_sample,
    )

    docs = _docs(spark, sf_dir)
    return weighted_sample(
        docs, F.col("n_chars") / WSAMPLE_SCALE
    ).select("doc_id")


def _q_chunk_documents(spark, sf_dir):
    """Sliding-window chunking (``functions/text.py::chunk_documents``):
    CHUNK_MAX_TOKENS-token windows every CHUNK_STRIDE tokens
    (overlapping — long-context training prep); final window short,
    empty docs emit nothing."""
    from mecab_ko_lucene_analyzer_spark.functions.text import (
        chunk_documents,
    )

    return chunk_documents(
        _docs(spark, sf_dir), CHUNK_MAX_TOKENS, CHUNK_STRIDE
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "chunk_text",
    )


def _q_facet_terms(spark, sf_dir):
    """ES ``terms`` aggregation (``query/aggs.py::facet_terms``): top
    attribute values (``documents.source``) among the docs matching
    the disjunctive BM25_QUERY, ranked doc_count desc / value asc —
    the facet panel next to every product-search result page. Keys
    are ints/strings only, so ranks are bit-deterministic."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import facet_terms

    return facet_terms(
        _ws_index(spark, sf_dir),
        BM25_QUERY,
        _docs(spark, sf_dir).select("doc_id", "source"),
        "source",
        k=10,
    )


def _q_date_histogram(spark, sf_dir):
    """ES ``date_histogram`` (``query/aggs.py::date_histogram``):
    matching-doc counts per UTC day of the synthetic fetch timestamp
    (epoch + doc_id hours, the ``freshness_boost`` convention —
    documents carries no ts column). The bucket start is emitted as
    epoch seconds (BIGINT) so the oracle comparison is pure integer
    arithmetic with no timestamp-rendering dependence (session tz is
    UTC on this driver, where day-truncation == s // 86400 * 86400)."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import date_histogram

    doc_ts = _docs(spark, sf_dir).select(
        "doc_id",
        F.timestamp_seconds(
            F.lit(FRESH_EPOCH) + F.col("doc_id") * FRESH_STEP_S
        ).alias("warc_ts"),
    )
    return (
        date_histogram(_ws_index(spark, sf_dir), BM25_QUERY, doc_ts, interval="day")
        .select(
            F.col("bucket").cast("long").alias("bucket_start"),
            "doc_count",
        )
        .orderBy("bucket_start")
    )


def _q_stats_agg(spark, sf_dir):
    """ES ``stats`` metric aggregation (``query/aggs.py::stats_agg``):
    count/min/max/avg/sum of ``documents.n_chars`` over the docs
    matching the disjunctive BM25_QUERY — the numeric summary strip
    next to the facet panel. One row; avg rounded to 6 (float
    summation-order noise), the rest exact."""
    from mecab_ko_lucene_analyzer_spark.query.aggs import stats_agg

    return stats_agg(
        _ws_index(spark, sf_dir),
        BM25_QUERY,
        _docs(spark, sf_dir).select("doc_id", "n_chars"),
        "n_chars",
    ).select(
        "count",
        "min",
        "max",
        F.round("avg", 6).alias("avg"),
        "sum",
    )


def _q_ngram_jaccard_pairs(spark, sf_dir):
    """Near-dup candidates: doc pairs sharing >= 5 distinct 3-gram shingles.
    ``pack_ids=True``: docIDs here are dense row numbers < 2^31, so the
    pair aggregation runs on single-long packed keys (same rows)."""
    from mecab_ko_lucene_analyzer_spark.functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), min_common=5, pack_ids=True)


def _q_dedup_clusters(spark, sf_dir):
    """Connected components over the exact near-dup pairs: one row per
    member, cluster_id = min doc_id in the component (the survivor)."""
    from mecab_ko_lucene_analyzer_spark.functions.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )

    return dedup_clusters(
        ngram_jaccard_pairs(_docs(spark, sf_dir), min_common=5, pack_ids=True)
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic corpus mixing: keep all de, half of en, 10% of the
    rest — the keep decision is a pure hash of doc_id (rerun-stable)."""
    from mecab_ko_lucene_analyzer_spark.functions.text import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), {"de": 1.0, "en": 0.5}, default_fraction=0.1
    ).select("doc_id", "lang")


def _emb_queries(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return emb, q


def _q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 neighbors for query vectors 0..2."""
    from mecab_ko_lucene_analyzer_spark.functions.similarity import cosine_topk

    emb, q = _emb_queries(spark, sf_dir)
    return cosine_topk(emb, q, k=10)


def _q_ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN (md5-seeded planes → exact oracle)."""
    from mecab_ko_lucene_analyzer_spark.functions.similarity import lsh_bucket_topk

    emb, q = _emb_queries(spark, sf_dir)
    return lsh_bucket_topk(emb, q, dim=64, k=10)


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN (md5-mod centroid sample → exact oracle)."""
    from mecab_ko_lucene_analyzer_spark.functions.similarity import ivf_topk

    emb, q = _emb_queries(spark, sf_dir)
    return ivf_topk(emb, q, k=10, n_centroids=8, n_probe=3)


#: k-means contract (session 13): Lloyd over the embeddings table —
#: deterministic md5-mod init (the IVF-centroid pattern), 2 unrolled
#: iterations, squared-L2 argmin with round-before-argmin ties. The
#: oracle replays init + both iterations as chained CTEs (the
#: unrolled-PageRank pattern).
KMEANS_K = 8
KMEANS_ITERS = 2


def _q_kmeans_clusters(spark, sf_dir):
    """Embedding k-means for curation
    (``functions/clustering.py::kmeans_fit``): per-iteration plan is
    one zero-exchange assignment projection + one map-side-combined
    hash aggregate (k·(dim+1) doubles to the driver); the returned
    relation is the final zero-exchange assignment pass."""
    from mecab_ko_lucene_analyzer_spark.functions.clustering import kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, assigned = kmeans_fit(emb, k=KMEANS_K, n_iter=KMEANS_ITERS)
    return assigned.select(
        "vec_id", F.col("cluster").cast("int").alias("cluster"), "dist"
    )


def _q_minhash_near_dup(spark, sf_dir):
    """MinHash+LSH near-dup candidates (md5 + universal-hash family →
    exact oracle)."""
    from mecab_ko_lucene_analyzer_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir))


def _q_simhash_candidates(spark, sf_dir):
    """SimHash hamming-block near-dup candidates (md5 → exact oracle)."""
    from mecab_ko_lucene_analyzer_spark.functions.dedup import simhash_candidates

    return simhash_candidates(_docs(spark, sf_dir))


def _q_simhash_verified(spark, sf_dir):
    """VERIFIED SimHash near-dup pairs: bucket candidates post-filtered
    to true hamming distance ≤ 3 (``bit_count(a XOR b)`` over the
    riding payload — the exact pairs ``jobs/curate.py --dedup simhash``
    clusters on; recall is pigeonhole-guaranteed for d ≤ 3)."""
    from mecab_ko_lucene_analyzer_spark.functions.dedup import simhash_candidates

    return simhash_candidates(_docs(spark, sf_dir), max_hamming=3)


BATCH_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["spark", "query"]),
    (1, ["data", "index"]),
    (2, ["the", "of"]),
    (3, ["search", "engine", "web"]),
]


_WS_INDEX_CACHE: dict[str, tuple] = {}


def _ws_block_index(spark, sf_dir):
    """Positions-carrying block index over the whitespace tokens (the
    SQL-replicable tokenization), shared by the bulk-retrieval, phrase,
    and count contract queries: the token rows pack into partial blocks
    (`index/build.py::partials_from_tokens`), stats derive from the
    partials, and the index build's own blocks stage
    (`index/blocks.py::build_blocks_from_partials`) re-blocks them.
    Memoized per sf_dir — the contract runs all of them in one process,
    and the cache owns the persisted partials (callers must NOT
    unpersist; the blocks read them as an InMemoryRelation). Returns
    (blocks, term_stats, n, avgdl)."""
    cached = _WS_INDEX_CACHE.get(sf_dir)
    if cached is not None and cached[0].sparkSession is spark:
        return cached
    from pyspark import StorageLevel

    from mecab_ko_lucene_analyzer_spark.index.blocks import (
        build_blocks_from_partials,
    )
    from mecab_ko_lucene_analyzer_spark.index.build import (
        _stats_from_partials,
        partials_from_tokens,
    )

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("position", "term"),
    )
    partials = partials_from_tokens(toks).persist(StorageLevel.MEMORY_AND_DISK)
    term_stats, doc_stats = _stats_from_partials(partials)
    row = doc_stats.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
    ).first()
    blocks = build_blocks_from_partials(
        partials, term_stats, row["n"], float(row["avgdl"]), hot_min_df=10**9
    )
    entry = (blocks, term_stats, row["n"], float(row["avgdl"]))
    _WS_INDEX_CACHE[sf_dir] = entry
    return entry


#: contract phrases: a bigram with broad support and a trigram subset
#: of it, so the consecutive-position check (not mere conjunction) is
#: what separates the two result sets
PHRASE_QUERIES: list[list[str]] = [
    ["table", "hash"],
    ["stream", "table", "hash"],
]


def _q_phrase_match(spark, sf_dir):
    """Positional phrase retrieval through the SERVING engine (Q4
    semantics, `DanawaSearchQueryBuilder.java:287-291` match_phrase):
    builds the positions-carrying block index, evaluates each Phrase
    AST via the production driver evaluator (`executor._phrase_docs`:
    the terms' intersected docs, then the `phrase_reach` position check
    over varint pos_deltas decoded per candidate block), and returns
    every matching doc. Phrase score is 0 by contract, so k = n_docs yields the full
    doc set ordered by doc_id. Oracle: DuckDB token-adjacency
    self-joins on unnest ordinality — exercising I2/I3 position
    encoding end-to-end under the driver's hash gate."""
    from mecab_ko_lucene_analyzer_spark.query.ast import Phrase
    from mecab_ko_lucene_analyzer_spark.query.executor import execute_ast

    blocks, _, n, avgdl = _ws_block_index(spark, sf_dir)
    rows = []
    for terms in PHRASE_QUERIES:
        hits = execute_ast(Phrase(tuple(terms)), blocks, n, avgdl, k=n)
        rows.extend((" ".join(terms), int(d)) for d, _ in hits)
    return spark.createDataFrame(rows, "phrase string, doc_id long")


def _q_phrase_match_distributed(spark, sf_dir):
    """The DISTRIBUTED phrase evaluator under the driver gate: the same
    contract phrases as ``phrase_match``, evaluated via
    ``router.phrase_match_docs`` (executor-side position decode +
    doc_id-keyed aggregate + shared ``phrase_reach`` DP, with the
    rarest-term broadcast prune engaged through real df stats) instead
    of the driver evaluator. Same oracle as ``phrase_match`` — the
    two paths must agree doc-for-doc."""
    from mecab_ko_lucene_analyzer_spark.query.router import (
        phrase_match_docs,
        term_dfs,
    )

    blocks, term_stats, _n, _avgdl = _ws_block_index(spark, sf_dir)
    out = None
    for terms in PHRASE_QUERIES:
        dfs = term_dfs(term_stats, list(terms))
        pm = phrase_match_docs(blocks, tuple(terms), dfs=dfs).select(
            F.lit(" ".join(terms)).alias("phrase"), "doc_id"
        )
        out = pm if out is None else out.unionByName(pm)
    return out


#: contract count queries: conjunctive + disjunctive over the same
#: term pair, so the two Q8 semantics separate in the result
COUNT_QUERIES: list[tuple[str, list[str]]] = [
    ("and", ["table", "hash"]),
    ("or", ["table", "hash"]),
    ("and", ["stream", "table"]),
]


def _q_match_count(spark, sf_dir):
    """Q8 count (``trackTotalHits`` / ``SearchUtil.java:136-150``
    analog) served from the BLOCK index: decode the query terms'
    docID arrays from their blocks and intersect/union in numpy —
    the ``engine.count`` shape, never a corpus scan. Oracle: DuckDB
    per-doc distinct-term counting over the token table."""
    import numpy as np

    from mecab_ko_lucene_analyzer_spark.index.codec import decode_varints

    blocks, _, _, _ = _ws_block_index(spark, sf_dir)
    need = sorted({t for _, terms in COUNT_QUERIES for t in terms})
    rows = blocks.filter(F.col("term").isin(need)).select(
        "term", "doc_deltas"
    ).collect()
    docs_by_term: dict[str, list] = {}
    for r in rows:
        arr = np.cumsum(decode_varints(bytes(r["doc_deltas"])).astype(np.int64))
        docs_by_term.setdefault(r["term"], []).append(arr)
    out = []
    for mode, terms in COUNT_QUERIES:
        sets = [
            np.concatenate(docs_by_term.get(t, [np.empty(0, dtype=np.int64)]))
            for t in terms
        ]
        if mode == "and":
            acc = sets[0]
            for s in sets[1:]:
                acc = np.intersect1d(acc, s)
            cnt = int(acc.size)
        else:
            cnt = int(np.unique(np.concatenate(sets)).size)
        out.append((" ".join(terms), mode, cnt))
    return spark.createDataFrame(out, "terms string, mode string, cnt long")


#: highlight contract terms — both appear throughout the synthetic
#: corpus, mixed-case occurrences included (the model lowercases)
HIGHLIGHT_TERMS = ["spark", "data"]


def _q_highlight_spans(spark, sf_dir):
    """Q9 highlighting under the driver gate: the production span
    pipeline (term-SET model + overlap merge —
    ``TermHighlightingQuery.java:26-48`` semantics, shared ``_merge``)
    over the whitespace tokenization, Arrow-batched via mapInPandas.
    Oracle: DuckDB recomputes each matched token's char span from
    cumulative token lengths (single-space separators). The Korean
    chain's spans stay pytest-golden-gated (DuckDB cannot run the
    analyzer)."""
    import pandas as pd

    from mecab_ko_lucene_analyzer_spark.query.highlight import (
        whitespace_highlight_spans,
    )

    terms = list(HIGHLIGHT_TERMS)

    def emit(batches):
        for pdf in batches:
            ids: list[int] = []
            starts: list[int] = []
            ends: list[int] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                for s, e in whitespace_highlight_spans(text, terms):
                    ids.append(did)
                    starts.append(s)
                    ends.append(e)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "start_offset": pd.Series(starts, dtype="int64"),
                    "end_offset": pd.Series(ends, dtype="int64"),
                }
            )

    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(emit, "doc_id long, start_offset long, end_offset long")
    )


def _q_batch_bm25_topk(spark, sf_dir):
    """Bulk retrieval: a 4-query batch scored in ONE Spark job by the
    AST evaluator over a block index built from the whitespace tokens
    (one term-pruned fetch + broadcast + executor-parallel evaluation
    of each bag's ``Sum``) — rank-identical to per-query serving,
    exactly replicable in SQL."""
    from mecab_ko_lucene_analyzer_spark.query import ast_topk_batch
    from mecab_ko_lucene_analyzer_spark.query.ast import bag_ast, to_json

    blocks, _, n, avgdl = _ws_block_index(spark, sf_dir)
    qdf = spark.createDataFrame(
        [(qid, to_json(bag_ast(terms))) for qid, terms in BATCH_QUERIES],
        "query_id long, query_json string",
    )
    out = ast_topk_batch(blocks, qdf, n, avgdl, k=10)
    result = out.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score")
    ).cache()
    result.count()
    return result


#: Q2 contract query: one synonym OR-group plus one required term —
#: the reference's standard analyzed-query shape (every token becomes a
#: must clause; a token with synonyms becomes an OR subquery,
#: ``DanawaSearchQueryBuilder.java`` synonym handling / ``query/ast.py``
#: ``build_query_ast``). Terms have broad corpus support so the
#: group-max vs plain-sum scoring separates in the result.
SYNONYM_GROUP: tuple[str, ...] = ("table", "hash")
SYNONYM_REQUIRED = "stream"
SYNONYM_K = 20


def _q_synonym_or_topk(spark, sf_dir):
    """Q2 synonym OR-group retrieval through the SERVING evaluator:
    ``And(Or(group...), Term(required))`` over the block index, scored
    with the production semantics — a doc matches iff the required term
    AND at least one group member appear; the group contributes the MAX
    over its matching members' BM25 partials (the evaluator's ``Or``),
    the doc score is the sum over clauses (its ``And``). This is the
    exact AST ``build_query_ast`` emits for a synonym-bearing token, so
    the driver gate now covers Q2's scoring, not just its construction.
    Oracle: per-term BM25 partials, ``max`` within the group, ``+`` the
    required term's partial, rank by (score desc, doc_id)."""
    from mecab_ko_lucene_analyzer_spark.query.ast import And, Or, Term
    from mecab_ko_lucene_analyzer_spark.query.executor import execute_ast

    blocks, _, n, avgdl = _ws_block_index(spark, sf_dir)
    ast = And(
        (Or(tuple(Term(t) for t in SYNONYM_GROUP)), Term(SYNONYM_REQUIRED))
    )
    hits = execute_ast(ast, blocks, n, avgdl, k=SYNONYM_K)
    rows = [(i + 1, int(d), round(s, 6)) for i, (d, s) in enumerate(hits)]
    return spark.createDataFrame(rows, "rank int, doc_id long, score double")


#: Q2+Q4 contract query: a MULTI-WORD synonym — ``build_query_ast``
#: expands a token whose synonym is a phrase into
#: ``And(Or(Phrase(words...), Term(token)), ...)`` (the reference's
#: synonym match_phrase subquery, ``DanawaSearchQueryBuilder.java``
#: synonym handling). Term choice makes every semantic class non-empty
#: at sf0.01: docs matching the phrase ONLY (group contributes 0.0 —
#: the boost-0 contract), the synonym only, and both (group = max).
NESTED_PHRASE: tuple[str, ...] = ("data", "stream")
NESTED_SYN = "dup"
NESTED_REQ = "batch"
NESTED_K = 20


def _q_nested_phrase_topk(spark, sf_dir):
    """The GENERAL distributed evaluator (``router._scored_docs_general``
    flag-column plan) under the driver gate: an Or-NESTED Phrase — the
    multi-word-synonym AST — scored fully distributed (phrase match
    sets full-outer-joined as boolean flags, score expression renders
    the tree with boost-0 ``when(flag, 0.0)`` branches; no driver
    block fetch). Semantics gated: a doc matches iff the required term
    AND (the phrase OR the synonym term) match; the Or-group
    contributes ``max(0.0 if phrase, partial if synonym)``. Oracle:
    token-adjacency phrase docs UNION ALL synonym partials → group
    max, + the required term's partial."""
    from mecab_ko_lucene_analyzer_spark.query.ast import (
        And,
        Or,
        Phrase,
        Term,
        ast_terms,
    )
    from mecab_ko_lucene_analyzer_spark.query.router import (
        distributed_ast_topk,
        term_dfs,
    )

    blocks, term_stats, n, avgdl = _ws_block_index(spark, sf_dir)
    ast = And(
        (Or((Phrase(NESTED_PHRASE), Term(NESTED_SYN))), Term(NESTED_REQ))
    )
    dfs = term_dfs(term_stats, sorted(ast_terms(ast)))
    hits = distributed_ast_topk(ast, blocks, dfs, n, avgdl, k=NESTED_K)
    rows = [(i + 1, int(d), round(s, 6)) for i, (d, s) in enumerate(hits)]
    return spark.createDataFrame(rows, "rank int, doc_id long, score double")


#: bool must_not contract query (session 13): the ES bool
#: must/must_not shape — a required term, a synonym Or-group, and an
#: excluded term (Lucene ``BooleanClause.Occur.MUST_NOT``; the
#: reference's bool-mode plumbing is
#: ``DanawaSearchQueryBuilder.java:266-282``). Term choice: excluding
#: ``batch`` removes ~84% of ``stream``'s matches at sf0.01, so the
#: exclusion — not the positive clauses — shapes the ranking.
NOT_REQUIRED = "stream"
NOT_GROUP: tuple[str, ...] = ("table", "hash")
NOT_EXCLUDED = "batch"
NOT_K = 20


def _q_not_topk(spark, sf_dir):
    """must_not retrieval through the DISTRIBUTED evaluator
    (``router._scored_docs`` — the Not clause renders as a
    null-inverting ``when`` over the per-doc scores map; no driver
    block fetch): a doc matches iff the required term AND at least one
    group member appear AND the excluded term does NOT; exclusion
    contributes exactly 0.0 to the score (the positive clauses' sum is
    untouched). Driver-tree parity is property-gated in
    ``tests/test_query_ast.py``/``test_query_router.py``; this entry
    puts the distributed plan under the driver's oracle gate."""
    from mecab_ko_lucene_analyzer_spark.query.ast import (
        And,
        Not,
        Or,
        Term,
        ast_terms,
    )
    from mecab_ko_lucene_analyzer_spark.query.router import (
        distributed_ast_topk,
        term_dfs,
    )

    blocks, term_stats, n, avgdl = _ws_block_index(spark, sf_dir)
    ast = And(
        (
            Term(NOT_REQUIRED),
            Or(tuple(Term(t) for t in NOT_GROUP)),
            Not(Term(NOT_EXCLUDED)),
        )
    )
    dfs = term_dfs(term_stats, sorted(ast_terms(ast)))
    hits = distributed_ast_topk(ast, blocks, dfs, n, avgdl, k=NOT_K)
    rows = [(i + 1, int(d), round(s, 6)) for i, (d, s) in enumerate(hits)]
    return spark.createDataFrame(rows, "rank int, doc_id long, score double")


#: search_after contract (session 13): the SAME page-2 slice the
#: scroll query gates (ranks 11-25 of the flagship disjunctive query),
#: but reached through the keyset cursor instead of offset — the
#: depth-independent deep-paging path (ES deprecated deep ``from`` for
#: exactly this; at 10^12 docs offset paging collects O(depth) rows,
#: the keyset filter collects k).
SEARCH_AFTER_PAGE1_K = 10
SEARCH_AFTER_K = 15


def _q_search_after_page(spark, sf_dir):
    """ES ``search_after`` under the driver gate: page 1 (top-10) of
    the disjunctive BM25 ranking yields the ``(score, doc_id)``
    cursor; ``query/bm25.py::keyset_page`` then fetches the next 15
    rows strictly after it in the (score desc, doc_id asc) total
    order. Scores round to 6 BEFORE the cursor/filter on both engines
    so the keyset comparison is bit-stable across jobs."""
    from mecab_ko_lucene_analyzer_spark.query.bm25 import (
        bm25_scored,
        keyset_page,
    )

    idx = _ws_index(spark, sf_dir)
    scored = bm25_scored(idx, BM25_QUERY).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    page1 = keyset_page(scored, k=SEARCH_AFTER_PAGE1_K).collect()
    last = page1[-1]
    page2 = keyset_page(
        scored, last["score"], last["doc_id"], k=SEARCH_AFTER_K
    ).collect()
    rows = [
        (SEARCH_AFTER_PAGE1_K + i + 1, int(r["doc_id"]), float(r["score"]))
        for i, r in enumerate(page2)
    ]
    return spark.createDataFrame(rows, "rank int, doc_id long, score double")


#: Q8 scroll contract: page 2 of the flagship BM25 query (ranks 11-25)
#: through the serving evaluator — the ``engine.search(offset=...)``
#: deep-paging shape (``SearchUtil.java:136-150`` scroll equivalent).
SCROLL_OFFSET = 10
SCROLL_PAGE_K = 15


def _q_scroll_page(spark, sf_dir):
    """Q8 scroll paging under the driver gate: fetch ``offset + k``
    by evaluating the query's bag (a ``Sum`` AST) over the serving
    postings (the exact ``engine.search`` paging contract) and slice —
    returning ranks
    11..25 of the same disjunctive query ``bm25_topk`` gates at ranks
    1..10, so the serving path's scores are oracle-checked BEYOND the
    head page. Oracle: full ranking with ``row_number``, sliced by
    rank."""
    from mecab_ko_lucene_analyzer_spark.query.ast import bag_ast
    from mecab_ko_lucene_analyzer_spark.query.executor import execute_ast

    blocks, _, n, avgdl = _ws_block_index(spark, sf_dir)
    fetch = SCROLL_OFFSET + SCROLL_PAGE_K
    hits = execute_ast(bag_ast(BM25_QUERY), blocks, n, avgdl, fetch)
    hits = hits[SCROLL_OFFSET:]
    rows = [
        (SCROLL_OFFSET + i + 1, int(d), round(s, 6))
        for i, (d, s) in enumerate(hits)
    ]
    return spark.createDataFrame(rows, "rank int, doc_id long, score double")


def _q_emb_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (5th dedup flavor): LSH-bucketed
    candidates, rounded cosine >= 0.4 (the synthetic table has no true
    twins; the threshold sits between p99 and max pairwise cosine so
    the operator exercises non-trivially)."""
    from mecab_ko_lucene_analyzer_spark.functions.similarity import lsh_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_near_dup_pairs(emb, dim=64, threshold=0.4)


def _q_streaming_dedup(spark, sf_dir):
    """Stateful streaming exact-dedup (applyInPandasWithState): the
    corpus arrives as batch 1 = originals, batch 2 = full re-crawl
    (ids + 10000) plus 10 genuinely new pages; the checkpointed
    seen-set drops every re-crawl across the restart and passes the
    new pages. Oracle = min-doc_id-per-text over the same union."""
    import shutil
    import tempfile

    from mecab_ko_lucene_analyzer_spark.streaming.dedup import (
        read_deduped,
        streaming_dedup_stream,
    )

    base = tempfile.mkdtemp(prefix="stream_dedup_")
    inp, out, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    docs = _docs(spark, sf_dir)

    def as_pages(d):
        return d.select(
            F.format_string("%012d", F.col("doc_id")).alias("url"),
            F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
            F.encode(F.col("text"), "utf-8").alias("html"),
            "text",
            F.lit("ko").alias("lang"),
        )

    as_pages(docs).coalesce(1).write.mode("overwrite").parquet(inp)
    streaming_dedup_stream(spark, inp, out, ckpt).awaitTermination()
    recrawl = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    fresh = spark.range(10).select(
        (F.col("id") + 20000).alias("doc_id"),
        F.concat(F.lit("uniq new page "), F.col("id").cast("string")).alias("text"),
    )
    as_pages(recrawl.unionByName(fresh)).coalesce(1).write.mode("append").parquet(inp)
    streaming_dedup_stream(spark, inp, out, ckpt).awaitTermination()
    result = (
        read_deduped(spark, out)
        .select(F.col("url").cast("long").alias("doc_id"), "text_hash")
        .cache()
    )
    result.count()  # materialize before the temp dir is removed
    shutil.rmtree(base, ignore_errors=True)
    return result


def _q_streaming_postings_tf(spark, sf_dir):
    """Incremental (Structured Streaming) indexing ≡ batch indexing:
    the documents table arrives as TWO file batches (stream restarted
    between them, docID bases from the manifest), whitespace tokenizer
    (pure Catalyst) so the merged deltas are exactly SQL-replicable —
    the oracle is the very same postings_tf SQL over the full table."""
    import shutil
    import tempfile

    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        incremental_index_stream,
        read_incremental_postings,
    )

    base = tempfile.mkdtemp(prefix="stream_ptf_")
    inp, idx, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    docs = _docs(spark, sf_dir)
    pages = docs.select(
        F.format_string("%012d", F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        "text",
        "lang",
    )

    def ws_tokens(d):
        return d.select(
            "doc_id",
            F.posexplode(
                F.filter(F.split("text", " "), lambda x: x != F.lit(""))
            ).alias("position", "term"),
        )

    # two arrivals; docIDs are dense 0..N-1 and urls are zero-padded, so
    # per-batch rank + base reproduces the original ids exactly
    half = docs.count() // 2
    cut = F.format_string("%012d", F.lit(half))
    pages.filter(F.col("url") < cut).coalesce(1).write.mode("overwrite").parquet(inp)
    incremental_index_stream(
        spark, inp, idx, ckpt, lang_filter=None, tokens_fn=ws_tokens
    ).awaitTermination()
    pages.filter(F.col("url") >= cut).coalesce(1).write.mode("append").parquet(inp)
    incremental_index_stream(
        spark, inp, idx, ckpt, lang_filter=None, tokens_fn=ws_tokens
    ).awaitTermination()
    out = read_incremental_postings(spark, idx).select("term", "doc_id", "tf")
    result = out.cache()
    result.count()  # materialize before the temp dir can be cleaned
    shutil.rmtree(base, ignore_errors=True)
    return result


def _q_analyze_ko_tokens(spark, sf_dir):
    """Korean analysis chain over the documents table via the Arrow UDF
    (rows-only: tokenization semantics are pytest-golden-gated).
    The narrow projection is fanned out so the pure-Python lattice
    parse uses every core instead of the input file's single split."""
    from mecab_ko_lucene_analyzer_spark.functions import tokens_table

    return tokens_table(
        _docs_narrow(spark, sf_dir), "doc_id", "text", "standard", 3
    )


def _q_product_tokens(spark, sf_dir):
    """Product-name analysis chain (A11–A23,
    ``ProductNameParsingRule.java:128-1080``) over a deterministic
    product-title derivation of ``documents``: each row gets a model
    code (SL-M<doc_id>), a comma-grouped number + unit, and a
    space-dictionary compound, so number/unit/model parsing, sub-entry
    emission, unit synonyms, and the dictionary-lattice splitter all
    fire. Rows-only for the driver (no SQL can replicate the chain);
    semantics are pinned by the committed sf0.001 fixture
    (``tests/test_product_tokens_golden.py``) — the same pattern that
    gates ``analyze_ko_tokens``."""
    from mecab_ko_lucene_analyzer_spark.analysis.dictionary import (
        SetDictionary,
        SynonymDictionary,
    )
    from mecab_ko_lucene_analyzer_spark.analysis.product import (
        ProductDictionarySet,
        TagProbDictionary,
    )
    from mecab_ko_lucene_analyzer_spark.functions.udfs import product_tokens_table

    dicts = ProductDictionarySet(
        tag_prob=TagProbDictionary.from_words(
            {"삼성": ("N", -8.0), "노트북": ("N", -8.0), "가방": ("N", -8.0)}
        ),
        unit=SetDictionary(["gb", "인치"]),
        unit_synonym=SynonymDictionary({"gb": ["기가"]}),
        synonym=SynonymDictionary({"노트북": ["laptop"]}),
        space={"노트북가방": ["노트북", "가방"]},
    )
    titled = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 16),
            F.lit(" SL-M"),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            ((F.col("doc_id") * 7) % 997).cast("string"),
            F.lit(",024gb 13인치 노트북가방"),
        ).alias("text"),
    )
    return product_tokens_table(titled, dicts)


def _q_multimodal_features(spark, sf_dir):
    """Binary media plumbing: payload → checksum + feature vector via
    Arrow-batched mapInPandas (rows-only: decode is the stub)."""
    from mecab_ko_lucene_analyzer_spark.functions.multimodal import (
        attach_media,
        extract_features,
    )

    feats = extract_features(attach_media(_docs(spark, sf_dir)))
    return feats.select("doc_id", "media_type", "checksum", "n_bytes")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "postings_tf": _q_postings_tf,
        "term_stats": _q_term_stats,
        "doc_stats": _q_doc_stats,
        "corpus_stats": _q_corpus_stats,
        "bm25_topk": _q_bm25_topk,
        "dedup_exact": _q_dedup_exact,
        "fingerprint": _q_fingerprint,
        "token_count": _q_token_count,
        "quality_score": _q_quality_score,
        "lang_id": _q_lang_id,
        "repetition_stats": _q_repetition_stats,
        "domain_stats": _q_domain_stats,
        "pii_redact": _q_pii_redact,
        "span_dedup": _q_span_dedup,
        "decontaminate": _q_decontaminate,
        "pack_manifest": _q_pack_manifest,
        "unigram_logprob": _q_unigram_logprob,
        "normalize_nfc": _q_normalize_nfc,
        "extract_text": _q_extract_text,
        "detect_charset": _q_detect_charset,
        "robots_noindex": _q_robots_noindex,
        "canonical_urls": _q_canonical_urls,
        "extract_links": _q_extract_links,
        "host_link_graph": _q_host_link_graph,
        "pagerank_hosts": _q_pagerank_hosts,
        "anchor_texts": _q_anchor_texts,
        "incoming_anchors": _q_incoming_anchors,
        "anchor_bm25f_topk": _q_anchor_bm25f_topk,
        "boosted_bm25_topk": _q_boosted_bm25_topk,
        "msm_topk": _q_msm_topk,
        "mlt_topk": _q_mlt_topk,
        "prefix_topk": _q_prefix_topk,
        "fuzzy_topk": _q_fuzzy_topk,
        "dis_max_topk": _q_dis_max_topk,
        "boosting_topk": _q_boosting_topk,
        "constant_score": _q_constant_score,
        "wildcard_topk": _q_wildcard_topk,
        "phrase_prefix_match": _q_phrase_prefix_match,
        "related_terms": _q_related_terms,
        "suggest_terms": _q_suggest_terms,
        "freshness_boost": _q_freshness_boost,
        "rrf_fusion_topk": _q_rrf_fusion_topk,
        "explain_score": _q_explain_score,
        "collapse_topk": _q_collapse_topk,
        "blocklist_stats": _q_blocklist_stats,
        "term_vectors": _q_term_vectors,
        "regexp_topk": _q_regexp_topk,
        "filtered_topk": _q_filtered_topk,
        "significant_terms": _q_significant_terms,
        "sampler_sigterms": _q_sampler_sigterms,
        "rare_terms": _q_rare_terms,
        "multi_terms": _q_multi_terms,
        "top_hits": _q_top_hits,
        "rescore_topk": _q_rescore_topk,
        "percolate": _q_percolate,
        "weighted_sample": _q_weighted_sample,
        "chunk_documents": _q_chunk_documents,
        "sort_by_field": _q_sort_by_field,
        "percentiles_agg": _q_percentiles_agg,
        "cardinality_agg": _q_cardinality_agg,
        "histogram_agg": _q_histogram_agg,
        "range_agg": _q_range_agg,
        "extended_stats_agg": _q_extended_stats_agg,
        "weighted_avg_agg": _q_weighted_avg_agg,
        "composite_agg": _q_composite_agg,
        "filters_agg": _q_filters_agg,
        "adjacency_matrix": _q_adjacency_matrix,
        "terms_set_topk": _q_terms_set_topk,
        "date_range_agg": _q_date_range_agg,
        "missing_agg": _q_missing_agg,
        "tfidf_keywords": _q_tfidf_keywords,
        "gopher_rules": _q_gopher_rules,
        "bigram_logprob": _q_bigram_logprob,
        "phrase_suggest": _q_phrase_suggest,
        "streaming_window_stats": _q_streaming_window_stats,
        "session_stats": _q_session_stats,
        "dsir_logratio": _q_dsir_logratio,
        "nb_quality": _q_nb_quality,
        "dsir_sample": _q_dsir_sample,
        "robots_allowed": _q_robots_allowed,
        "host_cap": _q_host_cap,
        "facet_terms": _q_facet_terms,
        "date_histogram": _q_date_histogram,
        "stats_agg": _q_stats_agg,
        "extract_title": _q_extract_title,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "dedup_clusters": _q_dedup_clusters,
        "stratified_sample": _q_stratified_sample,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "kmeans_clusters": _q_kmeans_clusters,
        "minhash_near_dup": _q_minhash_near_dup,
        "simhash_candidates": _q_simhash_candidates,
        "simhash_verified": _q_simhash_verified,
        "emb_near_dup": _q_emb_near_dup,
        "batch_bm25_topk": _q_batch_bm25_topk,
        "phrase_match": _q_phrase_match,
        "phrase_match_distributed": _q_phrase_match_distributed,
        "match_count": _q_match_count,
        "synonym_or_topk": _q_synonym_or_topk,
        "nested_phrase_topk": _q_nested_phrase_topk,
        "not_topk": _q_not_topk,
        "scroll_page": _q_scroll_page,
        "search_after_page": _q_search_after_page,
        "highlight_spans": _q_highlight_spans,
        "streaming_postings_tf": _q_streaming_postings_tf,
        "streaming_dedup": _q_streaming_dedup,
        "analyze_ko_tokens": _q_analyze_ko_tokens,
        "product_tokens": _q_product_tokens,
        "multimodal_features": _q_multimodal_features,
    }


# --------------------------------------------------------------------------
# oracle-SQL generators for the md5-hashed operators (the hash family is
# shared with the Spark side via mecab_ko_lucene_analyzer_spark.functions
# .hashing — same seeds, same literals, byte-identical results)
# --------------------------------------------------------------------------


def _md5h64_sql(expr: str) -> str:
    # delegates to the package's canonical DuckDB rendering of md5_h64
    # so a hash-width change there cannot silently break oracle parity
    from mecab_ko_lucene_analyzer_spark.functions.hashing import md5_h64_sql

    return md5_h64_sql(expr)


def _webgraph_links_sql() -> str:
    """Shared CTE body (``links(url, href)``) replaying the web-graph
    injection (`_webgraph_pages`) and `extract_links` at string level:
    same HREF_RE, same absolutization CASE, same http(s) filter."""
    href_re = _HREF_RE.replace("'", "''")
    return f"""
        inj AS (
            SELECT
                'https://h' || (doc_id % 5) || '.example/d' || doc_id AS url,
                '<p>x</p><a href="https://H' || ((doc_id + 1) % 7)
                || '.EXAMPLE/p' || doc_id || '">a</a>'
                || (CASE WHEN doc_id % 3 = 0
                         THEN '<a href=''//h' || ((doc_id * 2) % 7)
                              || '.example/q''>b</a>'
                         ELSE '' END)
                || (CASE WHEN doc_id % 4 = 0
                         THEN '<a href="/r' || doc_id || '">c</a>'
                         ELSE '' END)
                || '<a href="mailto:a@b.c">m</a><a href="rel/x">r</a>'
                    AS html
            FROM documents
        ),
        rawhref AS (
            SELECT url,
                regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
                regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS host,
                unnest(regexp_extract_all(html, '{href_re}', 1)) AS raw
            FROM inj
        ),
        links0 AS (
            SELECT url,
                CASE WHEN regexp_matches(raw,
                          '^[A-Za-z][A-Za-z0-9+.-]*://') THEN raw
                     WHEN raw LIKE '//%' THEN scheme || ':' || raw
                     WHEN raw LIKE '/%' AND host <> ''
                          THEN scheme || '://' || host || raw
                     ELSE NULL END AS href
            FROM rawhref
        ),
        links AS (
            SELECT url, href FROM links0
            WHERE href IS NOT NULL
                AND regexp_matches(href, '(?i)^https?://')
        )"""


def _webgraph_edges_sql() -> str:
    """``edges(src_host, dst_host, n_links)`` on top of the links CTE
    (host_graph: lowercase hosts, self-loops dropped, one hash agg)."""
    return f"""{_webgraph_links_sql()},
        edges AS (
            SELECT
                lower(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS src_host,
                lower(regexp_extract(href,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS dst_host,
                count(*)::BIGINT AS n_links
            FROM links
            GROUP BY 1, 2
            HAVING src_host <> dst_host
                AND src_host <> '' AND dst_host <> ''
        )"""


def _pagerank_cte_body(iters: int = 3, damping: float = 0.85) -> str:
    """PageRank CTE chain (ending in ``r{iters}(node, rank)``): the
    power iteration unrolled as ``iters`` chained CTEs over the
    host-graph edges (weighted by n_links, teleport floor for every
    node, dangling mass not redistributed — exactly
    `functions.webgraph.pagerank`'s documented semantics). Shared by
    the ``pagerank_hosts`` and ``boosted_bm25_topk`` oracles."""
    body = f"""{_webgraph_edges_sql()},
        nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src_host AS node FROM edges
                UNION ALL SELECT dst_host FROM edges
            )
        ),
        nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        frac AS (
            SELECT e.src_host AS src, e.dst_host AS dst,
                   e.n_links::DOUBLE / o.ow AS frac
            FROM edges e
            JOIN (SELECT src_host, sum(n_links)::DOUBLE AS ow
                  FROM edges GROUP BY 1) o
              ON o.src_host = e.src_host
        ),
        r0 AS (
            SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
        )"""
    for i in range(iters):
        body += f""",
        r{i + 1} AS (
            SELECT nodes.node,
                ({1.0 - damping} / (SELECT n FROM nn))
                + {damping} * COALESCE(s.in_rank, 0.0) AS rank
            FROM nodes
            LEFT JOIN (
                SELECT frac.dst AS node,
                       sum(frac.frac * r{i}.rank) AS in_rank
                FROM frac JOIN r{i} ON r{i}.node = frac.src
                GROUP BY 1
            ) s ON s.node = nodes.node
        )"""
    return body


def _pagerank_sql(iters: int = 3, damping: float = 0.85) -> str:
    body = _pagerank_cte_body(iters, damping)
    return f"WITH {body}\n        SELECT node, rank FROM r{iters}"


def _anchor_pages_sql() -> str:
    """Shared CTE body (``ainj(doc_id, url, html)`` + ``anchors(url,
    href, anchor)``) replaying the anchor injection (``_anchor_pages``)
    and ``extract_anchor_texts`` at string level: same ANCHOR_RE (both
    capture groups), same entity chain (generated from HTML_ENTITIES),
    same whitespace collapse, same absolutization CASE and http(s) +
    non-empty-anchor filters — the three anchor oracles build on one
    rendering so they cannot drift from each other."""
    anchor_re = _ANCHOR_RE.replace("'", "''")
    entity = _entity_chain_sql(f"regexp_extract(m, '{anchor_re}', 2)")
    return f"""
        ainj AS (
            SELECT doc_id,
                'https://h' || (doc_id % 5) || '.example/d' || doc_id AS url,
                '<p>x</p><a href="https://h' || ((doc_id + 1) % 5)
                    || '.example/d' || (doc_id + 1) || '">'
                || array_to_string(list_filter(string_split(text, ' '),
                       x -> x <> '')[1:8], ' ')
                || '</a><a rel=nofollow href="https://h'
                || ((doc_id - (doc_id % 10)) % 5) || '.example/d'
                || (doc_id - (doc_id % 10)) || '">hub ' || (doc_id % 3)
                || '</a>'
                || (CASE WHEN doc_id % 6 = 0
                        THEN '<a href="https://h0.example/d0">' ||
                             '<b>nested</b></a>'
                        ELSE '' END)
                || (CASE WHEN doc_id % 7 = 0
                        THEN '<a href="/p' || doc_id || '">로컬 &amp; '
                             || doc_id || '</a>'
                        ELSE '' END)
                || (CASE WHEN doc_id % 9 = 0
                        THEN '<a href="mailto:a@b.c">mail</a>'
                        ELSE '' END)
                    AS html
            FROM documents
        ),
        am AS (
            SELECT url,
                regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
                regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS host,
                unnest(regexp_extract_all(html, '{anchor_re}', 0)) AS m
            FROM ainj
        ),
        ax AS (
            SELECT url, scheme, host,
                regexp_extract(m, '{anchor_re}', 1) AS raw,
                {entity} AS t0
            FROM am
        ),
        ar AS (
            SELECT url,
                CASE WHEN regexp_matches(raw,
                          '^[A-Za-z][A-Za-z0-9+.-]*://') THEN raw
                     WHEN raw LIKE '//%' THEN scheme || ':' || raw
                     WHEN raw LIKE '/%' AND host <> ''
                          THEN scheme || '://' || host || raw
                     ELSE NULL END AS href,
                trim(regexp_replace(t0, '{_HTML_WS_RE}', ' ', 'g')) AS anchor
            FROM ax
        ),
        anchors AS (
            SELECT url, href, anchor FROM ar
            WHERE href IS NOT NULL
                AND regexp_matches(href, '(?i)^https?://')
                AND anchor <> ''
        )"""


def _decontaminate_sql(n: int = 4, eval_max: int = 20, min_common: int = 1) -> str:
    """Decontamination oracle: generalized compositional ``n``-gram
    shingle-hash fold (same K/P31 arithmetic as ``_shingle_hash_ctes``,
    nested ``n-1`` times), eval side = doc_id < ``eval_max``."""
    from mecab_ko_lucene_analyzer_spark.functions.dedup import SHINGLE_K
    from mecab_ko_lucene_analyzer_spark.functions.hashing import P31

    expr = "hh[i]"
    for j in range(1, n):
        expr = f"(({expr}) * {SHINGLE_K}::BIGINT + hh[i+{j}]) % {P31}"
    return f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            th AS (
                SELECT doc_id,
                       list_transform(toks, tk -> {_md5h64_sql("tk")} % {P31}) AS hh
                FROM t
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, len(hh) - {n - 2}),
                           i -> {expr})) AS shingle
                FROM th WHERE len(hh) >= {n}
            ),
            ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {eval_max})
            SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_matched
            FROM sh s JOIN ev USING (shingle)
            WHERE s.doc_id >= {eval_max}
            GROUP BY s.doc_id
            HAVING count(*) >= {min_common}
    """


def _shingle_hash_ctes() -> str:
    """The shared ``t → th → sh`` CTE chain: tokens → per-token md5
    hashes → DISTINCT (doc_id, compositional 3-gram shingle hash) rows
    — mirrors ``functions.dedup.token_hashes``/``shingle_hashes``
    exactly (same K fold, same P31 modulus)."""
    from mecab_ko_lucene_analyzer_spark.functions.dedup import SHINGLE_K
    from mecab_ko_lucene_analyzer_spark.functions.hashing import P31

    return f"""t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            th AS (
                SELECT doc_id,
                       list_transform(toks, tk -> {_md5h64_sql("tk")} % {P31}) AS hh
                FROM t
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, len(hh) - 1),
                           i -> ((hh[i] * {SHINGLE_K}::BIGINT + hh[i+1]) % {P31}
                                  * {SHINGLE_K}::BIGINT + hh[i+2]) % {P31})) AS shingle
                FROM th
                WHERE len(hh) >= 3
            )"""


def _minhash_near_dup_sql(n_hashes: int = 32, bands: int = 8, seed: int = 42) -> str:
    from mecab_ko_lucene_analyzer_spark.functions.dedup import SHINGLE_K
    from mecab_ko_lucene_analyzer_spark.functions.hashing import P31, perm_coeffs

    coeffs = perm_coeffs(n_hashes, seed)
    rows_per_band = n_hashes // bands
    mins = ",\n                   ".join(
        f"list_min(list_transform(hs, x -> ({a}::BIGINT * x + {b}) % {P31})) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n                UNION ALL ".join(
        "SELECT doc_id, {bi} AS band, concat_ws(',', {cols}) AS bucket FROM sig".format(
            bi=bi,
            cols=", ".join(
                f"m{bi * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    return f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            th AS (
                -- per-TOKEN hashes; shingle hashes are the K-fold
                -- composition below (mirrors functions.dedup
                -- .shingle_hashes — no shingle strings built)
                SELECT doc_id,
                       list_transform(toks, tk -> {_md5h64_sql("tk")} % {P31}) AS hh
                FROM t
            ),
            h AS (
                SELECT doc_id,
                       list_transform(range(1, len(hh) - 1),
                           i -> ((hh[i] * {SHINGLE_K}::BIGINT + hh[i+1]) % {P31}
                                  * {SHINGLE_K}::BIGINT + hh[i+2]) % {P31}) AS hs
                FROM th
                WHERE len(hh) >= 3
            ),
            sig AS (
                SELECT doc_id,
                   {mins}
                FROM h
            ),
            banded AS (
                {band_selects}
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        """


def _simhash_candidates_sql(bits: int = 60, max_hamming: int | None = None) -> str:
    bit_terms = "\n                     + ".join(
        f"CASE WHEN 2 * coalesce(list_sum(list_transform(hs,"
        f" x -> CAST((x >> {b}) & 1 AS INT))), 0) >= len(hs)"
        f" THEN (1::BIGINT << {b}) ELSE 0::BIGINT END"
        for b in range(bits)
    )
    block_selects = "\n                UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS block,"
        f" (simhash >> {15 * i}) & 32767 AS key FROM sh"
        for i in range(4)
    )
    # verified variant: the simhash rides the bucket expansion as
    # payload (exactly functions.dedup.simhash_candidates(max_hamming=))
    # and pairs keep only true hamming distance <= max_hamming
    hamming = (
        ""
        if max_hamming is None
        else f"\n              AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"
    )
    return f"""
            WITH h AS (
                SELECT doc_id,
                       list_transform(
                           list_filter(string_split(text, ' '), x -> x <> ''),
                           t -> {_md5h64_sql("t")}) AS hs
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       ({bit_terms}) AS simhash
                FROM h
            ),
            blocked AS (
                {block_selects}
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM blocked a JOIN blocked b
              ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id{hamming}
        """


def _lit_list_sql(vals) -> str:
    return "[" + ", ".join(str(float(v)) for v in vals) + "]::DOUBLE[]"


def _ann_lsh_topk_sql(dim: int = 64, n_planes: int = 4, seed: int = 42, k: int = 10) -> str:
    from mecab_ko_lucene_analyzer_spark.functions.hashing import hyperplane_components

    planes = hyperplane_components(n_planes, dim, seed)
    terms = []
    for p, row in enumerate(planes):
        mult = 2 ** (n_planes - 1 - p)
        terms.append(
            f"(CASE WHEN list_dot_product(v::DOUBLE[], {_lit_list_sql(row)}) > 0"
            f" THEN 1 ELSE 0 END) * {mult}"
        )
    bucket = " + ".join(terms)
    return f"""
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 3
            ),
            eb AS (
                SELECT vec_id, embedding,
                       ({bucket.replace("v::DOUBLE[]", "embedding::DOUBLE[]")}) AS bucket
                FROM embeddings
            ),
            qb AS (
                SELECT query_id, qv,
                       ({bucket.replace("v::DOUBLE[]", "qv::DOUBLE[]")}) AS bucket
                FROM q
            ),
            scored AS (
                SELECT qb.query_id, eb.vec_id,
                       round(list_cosine_similarity(
                           eb.embedding::DOUBLE[], qb.qv::DOUBLE[]), 6) AS cosine
                FROM eb JOIN qb ON eb.bucket = qb.bucket
                WHERE eb.vec_id <> qb.query_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
                FROM scored
            )
            SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= {k}
        """


def _match_count_sql() -> str:
    """Per-doc distinct-term counting oracle for :func:`_q_match_count`:
    conjunctive = docs holding ALL query terms, disjunctive = docs
    holding any."""
    branches = []
    for mode, terms in COUNT_QUERIES:
        lst = ", ".join(f"'{t}'" for t in terms)
        having = (
            f"HAVING count(DISTINCT term) = {len(terms)}"
            if mode == "and"
            else ""
        )
        branches.append(
            f"SELECT '{' '.join(terms)}' AS terms, '{mode}' AS mode, "
            f"(SELECT count(*) FROM (SELECT doc_id FROM toks "
            f"WHERE term IN ({lst}) GROUP BY doc_id {having}))::BIGINT AS cnt"
        )
    union = " UNION ALL ".join(branches)
    return f"WITH toks AS ({_TOKS_SQL}) {union}"


def _phrase_match_sql() -> str:
    """Token-adjacency oracle for :func:`_q_phrase_match`: positions
    from unnest ordinality, one ``p + i`` chained self-join branch per
    contract phrase."""
    branches = []
    for terms in PHRASE_QUERIES:
        phrase = " ".join(terms)
        joins = " ".join(
            f"JOIN pos t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.p = t0.p + {i}"
            for i in range(1, len(terms))
        )
        conds = " AND ".join(
            f"t{i}.tok = '{t}'" for i, t in enumerate(terms)
        )
        branches.append(
            f"SELECT DISTINCT '{phrase}' AS phrase, t0.doc_id "
            f"FROM pos t0 {joins} WHERE {conds}"
        )
    union = " UNION ALL ".join(branches)
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), pos AS (
            SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
            FROM toks
        )
        {union}
    """


def _batch_bm25_topk_sql(k: int = 10) -> str:
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in BATCH_QUERIES for t in terms
    )
    all_terms = sorted({t for _, terms in BATCH_QUERIES for t in terms})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    return f"""
            WITH toks AS ({_TOKS_SQL}),
            qterms(query_id, term) AS (VALUES {qvals}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({in_list}) GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
            scored AS (
                SELECT q.query_id, tfs.doc_id,
                       sum(
                           ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                           * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                       ) AS score
                FROM qterms q
                JOIN tfs ON q.term = tfs.term
                JOIN dfs ON tfs.term = dfs.term
                JOIN dl ON tfs.doc_id = dl.doc_id
                CROSS JOIN corpus
                GROUP BY 1, 2
            ),
            ranked AS (
                SELECT query_id, doc_id, score, row_number() OVER (
                    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
                   round(score, 6) AS score
            FROM ranked WHERE rank <= {k}
        """


def _synonym_or_topk_sql(k: int = SYNONYM_K) -> str:
    """Q2 oracle: BM25 partials per (term, doc); the synonym group
    contributes ``max(partial)`` over its matching members, the
    required term its own partial; docs must match both clauses
    (inner join) — the executor's ``Or``/``And`` semantics in ANSI
    SQL."""
    group_list = ", ".join(f"'{t}'" for t in SYNONYM_GROUP)
    all_terms = ", ".join(
        f"'{t}'" for t in (*SYNONYM_GROUP, SYNONYM_REQUIRED)
    )
    return f"""
        WITH toks AS ({_TOKS_SQL}),
        dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
        corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
        tfs AS (
            SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
            WHERE term IN ({all_terms}) GROUP BY 1, 2
        ),
        dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
        part AS (
            SELECT tfs.term, tfs.doc_id,
                   ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                   * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   AS partial
            FROM tfs
            JOIN dfs ON tfs.term = dfs.term
            JOIN dl ON tfs.doc_id = dl.doc_id
            CROSS JOIN corpus
        ),
        grp AS (
            SELECT doc_id, max(partial) AS s FROM part
            WHERE term IN ({group_list}) GROUP BY 1
        ),
        req AS (
            SELECT doc_id, max(partial) AS s FROM part
            WHERE term = '{SYNONYM_REQUIRED}' GROUP BY 1
        ),
        ranked AS (
            SELECT grp.doc_id, grp.s + req.s AS score, row_number() OVER (
                ORDER BY grp.s + req.s DESC, grp.doc_id ASC) AS rank
            FROM grp JOIN req ON grp.doc_id = req.doc_id
        )
        SELECT CAST(rank AS INT) AS rank, doc_id, round(score, 6) AS score
        FROM ranked WHERE rank <= {k}
    """


def _not_topk_sql(k: int = NOT_K) -> str:
    """Oracle for :func:`_q_not_topk`: BM25 partials per (term, doc);
    group max + required term's partial (the Q2 semantics), then a
    NOT EXISTS on docs containing the excluded term — the must_not
    filter, which never touches the surviving scores."""
    group_list = ", ".join(f"'{t}'" for t in NOT_GROUP)
    all_terms = ", ".join(
        f"'{t}'" for t in (*NOT_GROUP, NOT_REQUIRED, NOT_EXCLUDED)
    )
    return f"""
        WITH toks AS ({_TOKS_SQL}),
        dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
        corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
        tfs AS (
            SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
            WHERE term IN ({all_terms}) GROUP BY 1, 2
        ),
        dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
        part AS (
            SELECT tfs.term, tfs.doc_id,
                   ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                   * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   AS partial
            FROM tfs
            JOIN dfs ON tfs.term = dfs.term
            JOIN dl ON tfs.doc_id = dl.doc_id
            CROSS JOIN corpus
        ),
        excl AS (
            SELECT DISTINCT doc_id FROM tfs WHERE term = '{NOT_EXCLUDED}'
        ),
        grp AS (
            SELECT doc_id, max(partial) AS s FROM part
            WHERE term IN ({group_list}) GROUP BY 1
        ),
        req AS (
            SELECT doc_id, max(partial) AS s FROM part
            WHERE term = '{NOT_REQUIRED}' GROUP BY 1
        ),
        ranked AS (
            SELECT req.doc_id, req.s + grp.s AS score, row_number() OVER (
                ORDER BY req.s + grp.s DESC, req.doc_id ASC) AS rank
            FROM req JOIN grp ON grp.doc_id = req.doc_id
            WHERE NOT EXISTS (
                SELECT 1 FROM excl WHERE excl.doc_id = req.doc_id
            )
        )
        SELECT CAST(rank AS INT) AS rank, doc_id, round(score, 6) AS score
        FROM ranked WHERE rank <= {k}
    """


def _nested_phrase_topk_sql(k: int = NESTED_K) -> str:
    """Oracle for :func:`_q_nested_phrase_topk`: the Or-group's max is
    taken over a UNION ALL of the synonym term's BM25 partials and a
    literal 0.0 per phrase-matching doc (token-adjacency self-join) —
    exactly the boost-0 ``when(flag, 0.0)`` branch the distributed
    flag-column plan renders; the required term's partial adds on an
    inner join (both clauses must match)."""
    joins = " ".join(
        f"JOIN pos t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.p = t0.p + {i}"
        for i in range(1, len(NESTED_PHRASE))
    )
    conds = " AND ".join(
        f"t{i}.tok = '{t}'" for i, t in enumerate(NESTED_PHRASE)
    )
    return f"""
        WITH toks AS ({_TOKS_SQL}),
        dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
        corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
        tfs AS (
            SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
            WHERE term IN ('{NESTED_SYN}', '{NESTED_REQ}') GROUP BY 1, 2
        ),
        dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
        part AS (
            SELECT tfs.term, tfs.doc_id,
                   ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                   * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   AS partial
            FROM tfs
            JOIN dfs ON tfs.term = dfs.term
            JOIN dl ON tfs.doc_id = dl.doc_id
            CROSS JOIN corpus
        ),
        tarr AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ),
        pos AS (
            SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
            FROM tarr
        ),
        ph AS (
            SELECT DISTINCT t0.doc_id FROM pos t0 {joins} WHERE {conds}
        ),
        grp AS (
            SELECT doc_id, max(v) AS s FROM (
                SELECT doc_id, partial AS v FROM part
                WHERE term = '{NESTED_SYN}'
                UNION ALL
                SELECT doc_id, 0.0 AS v FROM ph
            ) GROUP BY 1
        ),
        req AS (
            SELECT doc_id, max(partial) AS s FROM part
            WHERE term = '{NESTED_REQ}' GROUP BY 1
        ),
        ranked AS (
            SELECT grp.doc_id, grp.s + req.s AS score, row_number() OVER (
                ORDER BY grp.s + req.s DESC, grp.doc_id ASC) AS rank
            FROM grp JOIN req ON grp.doc_id = req.doc_id
        )
        SELECT CAST(rank AS INT) AS rank, doc_id, round(score, 6) AS score
        FROM ranked WHERE rank <= {k}
    """


def _scroll_page_sql(offset: int = SCROLL_OFFSET, k: int = SCROLL_PAGE_K) -> str:
    """Q8 oracle: the bm25_topk ranking continued past the head page —
    ``row_number`` over the full scored set, sliced to
    (offset, offset + k]."""
    in_list = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
        WITH toks AS ({_TOKS_SQL}),
        dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
        corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
        tfs AS (
            SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
            WHERE term IN ({in_list}) GROUP BY 1, 2
        ),
        dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
        scored AS (
            SELECT tfs.doc_id,
                   sum(
                       ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                       * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   ) AS score
            FROM tfs
            JOIN dfs ON tfs.term = dfs.term
            JOIN dl ON tfs.doc_id = dl.doc_id
            CROSS JOIN corpus
            GROUP BY tfs.doc_id
        ),
        ranked AS (
            SELECT doc_id, score, row_number() OVER (
                ORDER BY score DESC, doc_id ASC) AS rank
            FROM scored
        )
        SELECT CAST(rank AS INT) AS rank, doc_id, round(score, 6) AS score
        FROM ranked WHERE rank > {offset} AND rank <= {offset + k}
    """


def _search_after_page_sql(
    offset: int = SEARCH_AFTER_PAGE1_K, k: int = SEARCH_AFTER_K
) -> str:
    """Oracle for :func:`_q_search_after_page`: the keyset page equals
    the rank slice (offset, offset+k] of the ranking over ROUNDED
    scores — rounding before ranking mirrors the Spark side's
    round-before-cursor, keeping the keyset comparison bit-stable."""
    in_list = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
        WITH toks AS ({_TOKS_SQL}),
        dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
        corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
        tfs AS (
            SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
            WHERE term IN ({in_list}) GROUP BY 1, 2
        ),
        dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
        scored AS (
            SELECT tfs.doc_id,
                   round(sum(
                       ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                       * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   ), 6) AS score
            FROM tfs
            JOIN dfs ON tfs.term = dfs.term
            JOIN dl ON tfs.doc_id = dl.doc_id
            CROSS JOIN corpus
            GROUP BY tfs.doc_id
        ),
        ranked AS (
            SELECT doc_id, score, row_number() OVER (
                ORDER BY score DESC, doc_id ASC) AS rank
            FROM scored
        )
        SELECT CAST(rank AS INT) AS rank, doc_id, score
        FROM ranked WHERE rank > {offset} AND rank <= {offset + k}
    """


def _emb_near_dup_sql(
    dim: int = 64, n_planes: int = 4, seed: int = 42, threshold: float = 0.4
) -> str:
    from mecab_ko_lucene_analyzer_spark.functions.hashing import hyperplane_components

    planes = hyperplane_components(n_planes, dim, seed)
    terms = []
    for p, row in enumerate(planes):
        mult = 2 ** (n_planes - 1 - p)
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_lit_list_sql(row)}) > 0"
            f" THEN 1 ELSE 0 END) * {mult}"
        )
    bucket = " + ".join(terms)
    return f"""
            WITH e AS (
                SELECT vec_id, embedding, ({bucket}) AS bucket FROM embeddings
            )
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_cosine_similarity(
                       a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
            FROM e a JOIN e b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(
                      a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= {threshold}
        """


def _ann_ivf_topk_sql(
    n_centroids: int = 8, n_probe: int = 3, k: int = 10, sample_mod: int = 16
) -> str:
    cos = (
        "round(list_dot_product({v}::DOUBLE[], c.cv::DOUBLE[])"
        " / (sqrt(list_dot_product({v}::DOUBLE[], {v}::DOUBLE[]))"
        " * sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))), 6)"
    )
    return f"""
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 3
            ),
            cents AS (
                SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                WHERE {_md5h64_sql("vec_id::VARCHAR")} % {sample_mod} = 0
                ORDER BY vec_id LIMIT {n_centroids}
            ),
            assigned AS (
                SELECT vec_id, embedding, centroid_id FROM (
                    SELECT e.vec_id, e.embedding, c.centroid_id,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                               {cos.format(v="e.embedding")} DESC,
                               c.centroid_id ASC) AS rn
                    FROM embeddings e CROSS JOIN cents c
                ) WHERE rn = 1
            ),
            probed AS (
                SELECT query_id, qv, centroid_id FROM (
                    SELECT q.query_id, q.qv, c.centroid_id,
                           row_number() OVER (PARTITION BY q.query_id ORDER BY
                               {cos.format(v="q.qv")} DESC,
                               c.centroid_id ASC) AS rn
                    FROM q CROSS JOIN cents c
                ) WHERE rn <= {n_probe}
            ),
            scored AS (
                SELECT p.query_id, a.vec_id,
                       round(list_cosine_similarity(
                           a.embedding::DOUBLE[], p.qv::DOUBLE[]), 6) AS cosine
                FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id
                WHERE a.vec_id <> p.query_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
                FROM scored
            )
            SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= {k}
        """


def _kmeans_clusters_sql(
    k: int = KMEANS_K,
    n_iter: int = KMEANS_ITERS,
    dim: int = 64,
    sample_mod: int = 16,
) -> str:
    """Oracle for :func:`_q_kmeans_clusters`: Lloyd unrolled as chained
    CTEs (the ``_pagerank_cte_body`` pattern) — c0 = md5-mod init
    (components rounded, as the Spark side rounds at init), each
    iteration one argmin-assignment CTE + one per-dim-mean CTE, empty
    clusters kept via LEFT JOIN COALESCE. Distances are
    ``‖e‖² − 2·e·c + ‖c‖²`` over DOUBLE lists — the same sequential
    fold the Spark expressions compute — rounded before the argmin."""
    d2 = (
        "round(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])"
        " - 2 * list_dot_product(e.embedding::DOUBLE[], c.cv)"
        " + list_dot_product(c.cv, c.cv), 6)"
    )
    means = ", ".join(
        f"round(avg(embedding[{i + 1}]::DOUBLE), 6)" for i in range(dim)
    )
    body = f"""
        c0 AS (
            SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid,
                   list_transform(embedding::DOUBLE[],
                                  x -> round(x, 6)) AS cv
            FROM (
                SELECT vec_id, embedding FROM embeddings
                WHERE {_md5h64_sql("vec_id::VARCHAR")} % {sample_mod} = 0
                ORDER BY vec_id LIMIT {k}
            )
        )"""
    for i in range(n_iter):
        body += f""",
        a{i} AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {d2} ASC, c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN c{i} c
            ) WHERE rn = 1
        ),
        m{i} AS (
            SELECT cid, [{means}] AS cv FROM a{i} GROUP BY cid
        ),
        c{i + 1} AS (
            SELECT c.cid, COALESCE(m.cv, c.cv) AS cv
            FROM c{i} c LEFT JOIN m{i} m USING (cid)
        )"""
    return f"""
        WITH {body}
        SELECT vec_id, cid AS cluster, d AS dist FROM (
            SELECT e.vec_id, c.cid, {d2} AS d,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {d2} ASC, c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN c{n_iter} c
        ) WHERE rn = 1
    """


def _am_branches_sql() -> str:
    """UNION ALL branches for the adjacency_matrix oracle: one per
    named bucket (distinct doc count) and one per sorted pair
    (intersection count) — generated from FILTERS_SPEC so the oracle
    cannot drift from the Spark spec."""
    names = sorted(FILTERS_SPEC)
    def bag(n):
        return ", ".join("'" + t + "'" for t in FILTERS_SPEC[n])
    branches = [
        "SELECT '" + n + "' AS bucket, (SELECT count(DISTINCT doc_id) "
        "FROM toks WHERE term IN (" + bag(n) + "))::BIGINT AS doc_count"
        for n in names
    ]
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            branches.append(
                "SELECT '" + a + "&" + b + "' AS bucket, (SELECT count(*) FROM "
                "(SELECT DISTINCT doc_id FROM toks WHERE term IN (" + bag(a) + ")) x "
                "JOIN (SELECT DISTINCT doc_id FROM toks WHERE term IN (" + bag(b) + ")) y "
                "USING (doc_id))::BIGINT AS doc_count"
            )
    return " UNION ALL ".join(branches)


_H60_SQL = float(1 << 60)
_DSIR_CORE_SQL = """
            WITH toks AS (
                SELECT doc_id, lang,
                       list_filter(string_split(text, ' '), x -> x <> '') AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, lang, unnest(t) AS tok,
                       generate_subscripts(t, 1) AS p
                FROM toks
            ),
            feats AS (
                SELECT doc_id, lang, tok AS f FROM pos
                UNION ALL
                SELECT a.doc_id, a.lang, a.tok || ' ' || b.tok AS f
                FROM pos a JOIN pos b
                  ON b.doc_id = a.doc_id AND b.p = a.p + 1
            ),
            fb AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(f), 1, 15))::BIGINT % {dim} AS bucket
                FROM feats
            ),
            cr AS (SELECT bucket, count(*)::DOUBLE AS cr FROM fb GROUP BY 1),
            ct AS (
                SELECT bucket, count(*)::DOUBLE AS ct FROM fb
                WHERE lang = '{lang}' GROUP BY 1
            ),
            tot AS (
                SELECT (SELECT sum(cr) FROM cr) AS tr,
                       (SELECT coalesce(sum(ct), 0) FROM ct) AS tt
            ),
            probs AS (
                SELECT cr.bucket,
                       ln((coalesce(ct.ct, 0) + 1) / (tot.tt + {dim}))
                       - ln((cr.cr + 1) / (tot.tr + {dim})) AS lp
                FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tot
            ),
            scores AS (
                SELECT fb.doc_id, count(*)::BIGINT AS n_feats,
                       sum(p.lp) AS logratio
                FROM fb JOIN probs p USING (bucket)
                GROUP BY 1
            )
""".format(dim=DSIR_DIM, lang=DSIR_TARGET_LANG)


def oracle_sql() -> dict[str, str]:
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return {
        "postings_tf": f"""
            WITH toks AS ({_TOKS_SQL})
            SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
        """,
        "term_stats": f"""
            WITH toks AS ({_TOKS_SQL})
            SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
            FROM toks GROUP BY 1
        """,
        "doc_stats": f"""
            WITH toks AS ({_TOKS_SQL})
            SELECT doc_id, count(*) AS doc_len, count(DISTINCT term) AS n_distinct
            FROM toks GROUP BY 1
        """,
        "corpus_stats": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1)
            SELECT count(*) AS n_docs, round(avg(dl), 6) AS avgdl FROM dl
        """,
        "bm25_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1)
            SELECT tfs.doc_id,
                   round(sum(
                       ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                       * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   ), 6) AS score
            FROM tfs
            JOIN dfs ON tfs.term = dfs.term
            JOIN dl ON tfs.doc_id = dl.doc_id
            CROSS JOIN corpus
            GROUP BY tfs.doc_id
            ORDER BY score DESC, tfs.doc_id ASC
            LIMIT 10
        """,
        "msm_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1)
            SELECT tfs.doc_id,
                   round(sum(
                       ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                       * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   ), 6) AS score
            FROM tfs
            JOIN dfs ON tfs.term = dfs.term
            JOIN dl ON tfs.doc_id = dl.doc_id
            CROSS JOIN corpus
            GROUP BY tfs.doc_id
            HAVING count(*) >= {MSM_MIN_MATCH}
            ORDER BY score DESC, tfs.doc_id ASC
            LIMIT 10
        """,
        "prefix_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            stats AS (SELECT term, count(*)::DOUBLE AS df FROM posts GROUP BY 1),
            exp AS (
                SELECT term FROM stats
                WHERE term LIKE '{PREFIX_QUERY}%'
                ORDER BY df DESC, term ASC
                LIMIT {EXPANSION_CAP}
            )
            SELECT p.doc_id,
                   round(sum(
                       ln(1 + (corpus.n - s.df + 0.5) / (s.df + 0.5))
                       * p.tf / (p.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   ), 6) AS score
            FROM posts p
            JOIN exp ON p.term = exp.term
            JOIN stats s ON p.term = s.term
            JOIN dl ON p.doc_id = dl.doc_id
            CROSS JOIN corpus
            GROUP BY p.doc_id
            ORDER BY score DESC, p.doc_id ASC
            LIMIT {PREFIX_K}
        """,
        "fuzzy_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            stats AS (SELECT term, count(*)::DOUBLE AS df FROM posts GROUP BY 1),
            exp AS (
                SELECT term FROM stats
                WHERE abs(length(term) - length('{FUZZY_QUERY}')) <= {FUZZY_MAX_EDITS}
                  AND levenshtein(term, '{FUZZY_QUERY}') <= {FUZZY_MAX_EDITS}
                ORDER BY levenshtein(term, '{FUZZY_QUERY}') ASC, df DESC, term ASC
                LIMIT {EXPANSION_CAP}
            )
            SELECT p.doc_id,
                   round(sum(
                       ln(1 + (corpus.n - s.df + 0.5) / (s.df + 0.5))
                       * p.tf / (p.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   ), 6) AS score
            FROM posts p
            JOIN exp ON p.term = exp.term
            JOIN stats s ON p.term = s.term
            JOIN dl ON p.doc_id = dl.doc_id
            CROSS JOIN corpus
            GROUP BY p.doc_id
            ORDER BY score DESC, p.doc_id ASC
            LIMIT {FUZZY_K}
        """,
        "mlt_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            stats AS (SELECT term, count(*)::DOUBLE AS df FROM posts GROUP BY 1),
            seed AS (
                SELECT p.term
                FROM posts p JOIN stats s ON p.term = s.term CROSS JOIN corpus
                WHERE p.doc_id = {MLT_SEED_DOC}
                ORDER BY p.tf * ln(1 + (corpus.n - s.df + 0.5) / (s.df + 0.5)) DESC,
                         p.term ASC
                LIMIT {MLT_M_TERMS}
            )
            SELECT p.doc_id,
                   round(sum(
                       ln(1 + (corpus.n - s.df + 0.5) / (s.df + 0.5))
                       * p.tf / (p.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   ), 6) AS score
            FROM posts p
            JOIN seed ON p.term = seed.term
            JOIN stats s ON p.term = s.term
            JOIN dl ON p.doc_id = dl.doc_id
            CROSS JOIN corpus
            WHERE p.doc_id <> {MLT_SEED_DOC}
            GROUP BY p.doc_id
            ORDER BY score DESC, p.doc_id ASC
            LIMIT 10
        """,
        "related_terms": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT DISTINCT term, doc_id FROM toks),
            stats AS (SELECT term, count(*) AS df FROM posts GROUP BY 1),
            corpus AS (SELECT count(DISTINCT doc_id) AS n FROM posts),
            seed_docs AS (SELECT doc_id FROM posts WHERE term = '{RELATED_SEED}'),
            co AS (
                SELECT p.term, count(*) AS n_co
                FROM posts p JOIN seed_docs USING (doc_id)
                WHERE p.term <> '{RELATED_SEED}'
                GROUP BY 1 HAVING count(*) >= {RELATED_MIN_CO}
            )
            SELECT co.term, co.n_co,
                   round(ln(co.n_co::DOUBLE * corpus.n::DOUBLE
                            / (seed_df.df::DOUBLE * stats.df::DOUBLE)), 6) AS pmi
            FROM co
            JOIN stats ON co.term = stats.term
            CROSS JOIN corpus
            CROSS JOIN (SELECT df FROM stats WHERE term = '{RELATED_SEED}') seed_df
            ORDER BY pmi DESC, co.term ASC
            LIMIT 10
        """,
        "suggest_terms": f"""
            WITH toks AS ({_TOKS_SQL}),
            stats AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
            SELECT term, df, levenshtein(term, '{SUGGEST_SEED}') AS dist
            FROM stats
            WHERE term <> '{SUGGEST_SEED}'
              AND abs(length(term) - length('{SUGGEST_SEED}')) <= {SUGGEST_MAX_EDITS}
              AND levenshtein(term, '{SUGGEST_SEED}') <= {SUGGEST_MAX_EDITS}
            ORDER BY dist ASC, df DESC, term ASC
            LIMIT 10
        """,
        "freshness_boost": f"""
            WITH t AS (
                SELECT doc_id,
                       ({FRESH_EPOCH}::BIGINT + doc_id * {FRESH_STEP_S})::DOUBLE AS s
                FROM documents
            ),
            m AS (SELECT max(s) AS mx FROM t)
            SELECT doc_id,
                   round(pow(2.0, -((m.mx - t.s) / 86400.0) / {FRESH_HALF_LIFE_DAYS}), 6)
                       AS boost
            FROM t CROSS JOIN m
        """,
        # rrf_fusion_topk: both rankings round scores to 6 BEFORE the
        # row_number (engine-deterministic ranks); the fused score sums
        # <=2 exact doubles (commutative in IEEE), rounded to 6.
        "rrf_fusion_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
            bm25 AS (
                SELECT tfs.doc_id,
                       round(sum(
                           ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                           * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                       ), 6) AS score
                FROM tfs
                JOIN dfs ON tfs.term = dfs.term
                JOIN dl ON tfs.doc_id = dl.doc_id
                CROSS JOIN corpus
                GROUP BY tfs.doc_id
            ),
            lex AS (
                SELECT doc_id, row_number() OVER (
                    ORDER BY score DESC, doc_id ASC) AS rank
                FROM bm25 QUALIFY rank <= {RRF_N_CANDIDATES}
            ),
            qv AS (SELECT embedding AS v FROM embeddings
                   WHERE vec_id = {RRF_QUERY_VEC}),
            cos AS (
                SELECT e.vec_id AS doc_id,
                       round(list_cosine_similarity(
                           e.embedding::DOUBLE[], qv.v::DOUBLE[]), 6) AS cosine
                FROM embeddings e CROSS JOIN qv
                WHERE e.vec_id <> {RRF_QUERY_VEC}
            ),
            sem AS (
                SELECT doc_id, row_number() OVER (
                    ORDER BY cosine DESC, doc_id ASC) AS rank
                FROM cos QUALIFY rank <= {RRF_N_CANDIDATES}
            ),
            contribs AS (
                SELECT doc_id, 1.0 / (60.0 + rank) AS contrib FROM lex
                UNION ALL
                SELECT doc_id, 1.0 / (60.0 + rank) AS contrib FROM sem
            )
            SELECT doc_id, round(sum(contrib), 6) AS rrf_score
            FROM contribs GROUP BY doc_id
            ORDER BY rrf_score DESC, doc_id ASC
            LIMIT 10
        """,
        "explain_score": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*) AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY 1)
            SELECT tfs.doc_id, tfs.term, tfs.tf, dfs.df,
                   round(ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5)), 6) AS idf,
                   round(
                       ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                       * tfs.tf::DOUBLE / (tfs.tf::DOUBLE + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   , 6) AS partial
            FROM tfs
            JOIN dfs ON tfs.term = dfs.term
            JOIN dl ON tfs.doc_id = dl.doc_id
            CROSS JOIN corpus
        """,
        "collapse_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
            bm25 AS (
                SELECT tfs.doc_id,
                       round(sum(
                           ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                           * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                       ), 6) AS score
                FROM tfs
                JOIN dfs ON tfs.term = dfs.term
                JOIN dl ON tfs.doc_id = dl.doc_id
                CROSS JOIN corpus
                GROUP BY tfs.doc_id
            ),
            grouped AS (
                SELECT d.source AS "group", b.doc_id, b.score,
                       row_number() OVER (
                           PARTITION BY coalesce(d.source,
                                                 ' null ' || b.doc_id)
                           ORDER BY b.score DESC, b.doc_id ASC) AS rn
                FROM bm25 b LEFT JOIN documents d USING (doc_id)
            )
            SELECT "group", doc_id, score FROM grouped
            WHERE rn <= 1
            ORDER BY score DESC, doc_id ASC
            LIMIT 10
        """,
        "blocklist_stats": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            )
            SELECT doc_id,
                   len(toks)::BIGINT AS n_tokens,
                   len(list_filter(toks, x -> lower(x) IN (
                       {", ".join(f"'{w}'" for w in sorted(set(BLOCKLIST_WORDS)))}
                   )))::BIGINT AS blocked_tokens,
                   CASE WHEN len(toks) > 0 THEN round(
                       len(list_filter(toks, x -> lower(x) IN (
                           {", ".join(f"'{w}'" for w in sorted(set(BLOCKLIST_WORDS)))}
                       ))) / len(toks)::DOUBLE, 6)
                   ELSE 0.0 END AS blocked_frac
            FROM t
        """,
        "term_vectors": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            pos AS (
                SELECT doc_id, unnest(toks) AS term,
                       generate_subscripts(toks, 1) - 1 AS p
                FROM t
            )
            SELECT doc_id, term, count(*) AS tf,
                   string_agg(p::VARCHAR, ',' ORDER BY p) AS positions_csv
            FROM pos GROUP BY doc_id, term
        """,
        # regexp_topk replays the expansion RANKING (full-string RE2
        # match + df desc / term asc cap) before the shared BM25 sum —
        # the prefix_topk pattern with regexp_full_match as the
        # vocabulary predicate.
        "regexp_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            stats AS (SELECT term, count(*)::DOUBLE AS df FROM posts GROUP BY 1),
            exp AS (
                SELECT term FROM stats
                WHERE regexp_full_match(term, '{REGEXP_PATTERN}')
                ORDER BY df DESC, term ASC
                LIMIT {EXPANSION_CAP}
            )
            SELECT p.doc_id,
                   round(sum(
                       ln(1 + (corpus.n - s.df + 0.5) / (s.df + 0.5))
                       * p.tf / (p.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   ), 6) AS score
            FROM posts p
            JOIN exp ON p.term = exp.term
            JOIN stats s ON p.term = s.term
            JOIN dl ON p.doc_id = dl.doc_id
            CROSS JOIN corpus
            GROUP BY p.doc_id
            ORDER BY score DESC, p.doc_id ASC
            LIMIT {PREFIX_K}
        """,
        # dis_max: per-clause BM25 sums via conditional aggregates,
        # coalesce-0 on both engines (partials are non-negative, so
        # the coalesce can't move the max), max + tb*(sum-max).
        "dis_max_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            stats AS (SELECT term, count(*)::DOUBLE AS df FROM posts GROUP BY 1),
            cmap(term, clause) AS (VALUES {", ".join(f"('{t}', {ci})" for ci, cl in enumerate(DISMAX_CLAUSES) for t in cl)}),
            partials AS (
                SELECT p.doc_id, c.clause,
                       ln(1 + (corpus.n - s.df + 0.5) / (s.df + 0.5))
                       * p.tf / (p.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl)) AS partial
                FROM posts p
                JOIN cmap c ON p.term = c.term
                JOIN stats s ON p.term = s.term
                JOIN dl ON p.doc_id = dl.doc_id
                CROSS JOIN corpus
            ),
            per AS (
                SELECT doc_id,
                       {", ".join(f"coalesce(sum(CASE WHEN clause = {ci} THEN partial END), 0) AS c{ci}" for ci in range(len(DISMAX_CLAUSES)))}
                FROM partials GROUP BY doc_id
            )
            SELECT doc_id,
                   round(greatest({", ".join(f"c{ci}" for ci in range(len(DISMAX_CLAUSES)))})
                         + {DISMAX_TB} * ({" + ".join(f"c{ci}" for ci in range(len(DISMAX_CLAUSES)))}
                                          - greatest({", ".join(f"c{ci}" for ci in range(len(DISMAX_CLAUSES)))})), 6) AS score
            FROM per
            ORDER BY score DESC, doc_id ASC
            LIMIT {DISMAX_K}
        """,
        # boosting: positive BM25 scores, ×NB where the doc also
        # matches a negative term — demotion before the cut.
        "boosting_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
            pos AS (
                SELECT tfs.doc_id,
                       sum(
                           ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                           * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                       ) AS s
                FROM tfs
                JOIN dfs ON tfs.term = dfs.term
                JOIN dl ON tfs.doc_id = dl.doc_id
                CROSS JOIN corpus
                GROUP BY tfs.doc_id
            ),
            neg AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BOOSTING_NEG)})
            )
            SELECT pos.doc_id,
                   round(CASE WHEN neg.doc_id IS NOT NULL
                              THEN pos.s * {BOOSTING_NB}
                              ELSE pos.s END, 6) AS score
            FROM pos LEFT JOIN neg ON pos.doc_id = neg.doc_id
            ORDER BY score DESC, pos.doc_id ASC
            LIMIT {DISMAX_K}
        """,
        "constant_score": f"""
            WITH toks AS ({_TOKS_SQL})
            SELECT DISTINCT doc_id, {CONST_BOOST}::DOUBLE AS score
            FROM toks
            WHERE term IN ({", ".join(f"'{t}'" for t in CONST_TERMS)})
        """,
        # wildcard: the oracle walks the vocabulary with the SAME
        # translated full-string regex the engine uses.
        "wildcard_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            stats AS (SELECT term, count(*)::DOUBLE AS df FROM posts GROUP BY 1),
            exp AS (
                SELECT term FROM stats
                WHERE regexp_full_match(term, '{WILDCARD_RE}')
                ORDER BY df DESC, term ASC
                LIMIT {EXPANSION_CAP}
            )
            SELECT p.doc_id,
                   round(sum(
                       ln(1 + (corpus.n - s.df + 0.5) / (s.df + 0.5))
                       * p.tf / (p.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   ), 6) AS score
            FROM posts p
            JOIN exp ON p.term = exp.term
            JOIN stats s ON p.term = s.term
            JOIN dl ON p.doc_id = dl.doc_id
            CROSS JOIN corpus
            GROUP BY p.doc_id
            ORDER BY score DESC, p.doc_id ASC
            LIMIT {PREFIX_K}
        """,
        # match_phrase_prefix: adjacency via unnest ordinality, last
        # slot joined against the BINDING df-desc expansion budget.
        "phrase_prefix_match": f"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
                FROM toks
            ),
            stats AS (
                SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
                FROM pos GROUP BY 1
            ),
            exp AS (
                SELECT term FROM stats
                WHERE term LIKE '{PP_PREFIX}%'
                ORDER BY df DESC, term ASC
                LIMIT {PP_CAP}
            )
            SELECT DISTINCT t0.doc_id
            FROM pos t0
            JOIN pos t1 ON t1.doc_id = t0.doc_id AND t1.p = t0.p + 1
            JOIN exp ON t1.tok = exp.term
            WHERE t0.tok = '{PP_FIRST[0]}'
        """,
        # filtered_topk: the filter is a semi join BEFORE the top-k
        # cut; scores are the unfiltered BM25 values (filter context
        # never scores).
        "filtered_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1)
            SELECT tfs.doc_id,
                   round(sum(
                       ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                       * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                   ), 6) AS score
            FROM tfs
            JOIN dfs ON tfs.term = dfs.term
            JOIN dl ON tfs.doc_id = dl.doc_id
            CROSS JOIN corpus
            WHERE tfs.doc_id IN (
                SELECT doc_id FROM documents WHERE n_chars >= {FILTER_MIN_CHARS}
            )
            GROUP BY tfs.doc_id
            ORDER BY score DESC, tfs.doc_id ASC
            LIMIT 10
        """,
        # significant_terms: JLH arithmetic in the SAME expression
        # order as the Spark side ((fg-bg)*(fg/bg), all IEEE doubles
        # from identical integer inputs) — bit-identical pre-rounding.
        "significant_terms": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT DISTINCT term, doc_id FROM toks),
            stats AS (SELECT term, count(*) AS df FROM posts GROUP BY 1),
            corpus AS (
                SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM toks
            ),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            ),
            fg AS (
                SELECT p.term, count(*) AS fg_df
                FROM posts p JOIN matched m USING (doc_id)
                WHERE p.term NOT IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1
            ),
            sizes AS (SELECT count(*)::DOUBLE AS fg_size FROM matched)
            SELECT fg.term,
                   fg.fg_df::BIGINT AS fg_df,
                   s.df::BIGINT AS bg_df,
                   round(
                       (fg.fg_df / sizes.fg_size - s.df / corpus.n_docs)
                       * ((fg.fg_df / sizes.fg_size) / (s.df / corpus.n_docs))
                   , 6) AS score
            FROM fg
            JOIN stats s ON fg.term = s.term
            CROSS JOIN sizes CROSS JOIN corpus
            ORDER BY (fg.fg_df / sizes.fg_size - s.df / corpus.n_docs)
                     * ((fg.fg_df / sizes.fg_size) / (s.df / corpus.n_docs))
                     DESC, fg.term ASC
            LIMIT {SIGTERMS_K}
        """,
        # sampler + significant_terms: the BM25 rank key rounds to 6
        # BEFORE the sample cut on both engines (summation-order-proof
        # boundary); JLH over the sample, background df off the corpus
        "sampler_sigterms": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT DISTINCT term, doc_id FROM toks),
            stats AS (SELECT term, count(*) AS df FROM posts GROUP BY 1),
            corpus AS (
                SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM toks
            ),
            dl AS (
                SELECT doc_id, count(*)::DOUBLE AS doc_len
                FROM toks GROUP BY 1
            ),
            co2 AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
            scored AS (
                SELECT tfs.doc_id,
                       round(sum(
                           ln(1 + (co2.n - dfs.df + 0.5) / (dfs.df + 0.5))
                           * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / co2.avgdl))
                       ), 6) AS score
                FROM tfs
                JOIN dfs ON tfs.term = dfs.term
                JOIN dl ON tfs.doc_id = dl.doc_id
                CROSS JOIN co2
                GROUP BY tfs.doc_id
            ),
            sample AS (
                SELECT doc_id FROM scored
                ORDER BY score DESC, doc_id ASC
                LIMIT {SAMPLER_SIZE}
            ),
            fg AS (
                SELECT p.term, count(*) AS fg_df
                FROM posts p JOIN sample m USING (doc_id)
                WHERE p.term NOT IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1
            ),
            sizes AS (SELECT count(*)::DOUBLE AS fg_size FROM sample)
            SELECT fg.term,
                   fg.fg_df::BIGINT AS fg_df,
                   s.df::BIGINT AS bg_df,
                   round(
                       (fg.fg_df / sizes.fg_size - s.df / corpus.n_docs)
                       * ((fg.fg_df / sizes.fg_size) / (s.df / corpus.n_docs))
                   , 6) AS score
            FROM fg
            JOIN stats s ON fg.term = s.term
            CROSS JOIN sizes CROSS JOIN corpus
            ORDER BY (fg.fg_df / sizes.fg_size - s.df / corpus.n_docs)
                     * ((fg.fg_df / sizes.fg_size) / (s.df / corpus.n_docs))
                     DESC, fg.term ASC
            LIMIT {SIGTERMS_K}
        """,
        # rare_terms: the exact long-tail cut off the vocabulary, with
        # the injected zz<doc_id//3> tail replayed identically
        "rare_terms": f"""
            WITH toks AS ({_TOKS_SQL}),
            tail AS (
                SELECT doc_id,
                       'zz' || (doc_id // 3)::VARCHAR AS term
                FROM documents
            ),
            posts AS (
                SELECT DISTINCT term, doc_id
                FROM (SELECT * FROM toks UNION ALL SELECT doc_id, term FROM tail)
            )
            SELECT term, count(*)::BIGINT AS df
            FROM posts GROUP BY 1
            HAVING count(*) <= {RARE_MAX_DF}
            ORDER BY df ASC, term ASC
            LIMIT {RARE_K}
        """,
        # multi_terms: composite-key facet, doc_count desc / keys asc
        "multi_terms": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            )
            SELECT d.source, d.lang, count(*)::BIGINT AS doc_count
            FROM documents d JOIN matched m USING (doc_id)
            WHERE d.source IS NOT NULL AND d.lang IS NOT NULL
            GROUP BY 1, 2
            ORDER BY doc_count DESC, d.source ASC, d.lang ASC
            LIMIT 8
        """,
        "top_hits": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
            bm25 AS (
                SELECT tfs.doc_id,
                       round(sum(
                           ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                           * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                       ), 6) AS score
                FROM tfs
                JOIN dfs ON tfs.term = dfs.term
                JOIN dl ON tfs.doc_id = dl.doc_id
                CROSS JOIN corpus
                GROUP BY tfs.doc_id
            ),
            buckets AS (
                SELECT d.source AS value, count(*) AS doc_count
                FROM bm25 b JOIN documents d USING (doc_id)
                WHERE d.source IS NOT NULL
                GROUP BY 1
                ORDER BY doc_count DESC, value ASC
                LIMIT {TOPHITS_BUCKETS}
            ),
            ranked AS (
                SELECT d.source AS value, b.doc_id, b.score,
                       row_number() OVER (
                           PARTITION BY d.source
                           ORDER BY b.score DESC, b.doc_id ASC) AS hit_rank
                FROM bm25 b JOIN documents d USING (doc_id)
                WHERE d.source IN (SELECT value FROM buckets)
            )
            SELECT r.value, k.doc_count, r.hit_rank, r.doc_id, r.score
            FROM ranked r JOIN buckets k ON r.value = k.value
            WHERE r.hit_rank <= {TOPHITS_SIZE}
            ORDER BY k.doc_count DESC, r.value ASC, r.hit_rank ASC
        """,
        # rescore_topk: window on the ROUNDED base score (both engines
        # agree on the window membership and order), then add the
        # proximity bonus and round the final figure.
        "rescore_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
            bm25 AS (
                SELECT tfs.doc_id,
                       round(sum(
                           ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                           * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                       ), 6) AS score
                FROM tfs
                JOIN dfs ON tfs.term = dfs.term
                JOIN dl ON tfs.doc_id = dl.doc_id
                CROSS JOIN corpus
                GROUP BY tfs.doc_id
            ),
            win AS (
                SELECT doc_id, score,
                       row_number() OVER (
                           ORDER BY score DESC, doc_id ASC) AS rn
                FROM bm25 QUALIFY rn <= {RESCORE_WINDOW}
            ),
            pos AS (
                SELECT t.doc_id, p.term,
                       p.pos - 1 AS pos
                FROM (
                    SELECT doc_id,
                           unnest(list_filter(string_split(text, ' '),
                                              x -> x <> '')) AS term,
                           generate_subscripts(list_filter(
                               string_split(text, ' '), x -> x <> ''), 1) AS pos
                    FROM documents
                ) p
                JOIN win t USING (doc_id)
                WHERE p.term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            ),
            dist AS (
                SELECT l.doc_id, min(abs(l.pos - r.pos)) AS min_dist
                FROM pos l JOIN pos r
                  ON l.doc_id = r.doc_id AND l.term < r.term
                GROUP BY 1
            )
            SELECT w.doc_id,
                   round(w.score + coalesce(
                       {RESCORE_WEIGHT} / (1.0 + d.min_dist), 0.0), 6) AS score
            FROM win w LEFT JOIN dist d USING (doc_id)
            ORDER BY score DESC, w.doc_id ASC
            LIMIT 10
        """,
        "sort_by_field": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            )
            SELECT m.doc_id, d.n_chars AS sort_value
            FROM matched m LEFT JOIN documents d USING (doc_id)
            ORDER BY sort_value DESC NULLS LAST, m.doc_id ASC
            LIMIT 10
        """,
        "percentiles_agg": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            ),
            vals AS (
                SELECT d.n_chars::DOUBLE AS v
                FROM matched m JOIN documents d USING (doc_id)
                WHERE d.n_chars IS NOT NULL
            ),
            q AS (
                SELECT quantile_cont(v, [{", ".join(str(p / 100.0) for p in PCT_PERCENTS)}]) AS qs
                FROM vals
            )
            SELECT unnest([{", ".join(str(float(p)) for p in PCT_PERCENTS)}]) AS pct,
                   round(unnest(qs), 6) AS value
            FROM q
            ORDER BY pct
        """,
        "cardinality_agg": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            )
            SELECT count(DISTINCT d.source)::BIGINT AS cardinality
            FROM matched m JOIN documents d USING (doc_id)
            WHERE d.source IS NOT NULL
        """,
        "histogram_agg": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            )
            SELECT floor(d.n_chars::DOUBLE / {HIST_INTERVAL}) * {HIST_INTERVAL} AS bucket,
                   count(*) AS doc_count
            FROM matched m JOIN documents d USING (doc_id)
            WHERE d.n_chars IS NOT NULL
            GROUP BY 1
            ORDER BY bucket ASC
        """,
        # range: every configured bucket appears (0 when empty),
        # half-open [from, to); keys rendered via the SHARED range_key
        "range_agg": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            ),
            vals AS (
                SELECT d.n_chars::DOUBLE AS v
                FROM matched m JOIN documents d USING (doc_id)
                WHERE d.n_chars IS NOT NULL
            )
            {" UNION ALL ".join(
                "SELECT '" + _range_key(lo, hi) + "' AS key, "
                + "coalesce(sum(CASE WHEN "
                + " AND ".join(
                    ([f"v >= {float(lo)}"] if lo is not None else [])
                    + ([f"v < {float(hi)}"] if hi is not None else [])
                    or ["TRUE"]
                )
                + " THEN 1 ELSE 0 END), 0)::BIGINT AS doc_count FROM vals"
                for lo, hi in RANGE_BOUNDS
            )}
        """,
        # extended_stats: population variance sum_sq/n - avg², same
        # IEEE expression order as the Spark side.
        "extended_stats_agg": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            ),
            vals AS (
                SELECT d.n_chars::DOUBLE AS v
                FROM matched m JOIN documents d USING (doc_id)
                WHERE d.n_chars IS NOT NULL
            ),
            base AS (
                SELECT count(*)::BIGINT AS count, min(v) AS min,
                       max(v) AS max, avg(v) AS avg, sum(v) AS sum,
                       sum(v * v) AS sum_of_squares
                FROM vals
            ),
            ext AS (
                SELECT *, sum_of_squares / count::DOUBLE - avg * avg AS variance
                FROM base
            ),
            ext2 AS (SELECT *, sqrt(variance) AS std_deviation FROM ext)
            SELECT count, min, max,
                   round(avg, 6) AS avg,
                   round(sum, 6) AS sum,
                   round(sum_of_squares, 6) AS sum_of_squares,
                   round(variance, 6) AS variance,
                   round(std_deviation, 6) AS std_deviation,
                   round(avg + {ESTATS_SIGMA} * std_deviation, 6) AS upper,
                   round(avg - {ESTATS_SIGMA} * std_deviation, 6) AS lower
            FROM ext2
        """,
        "weighted_avg_agg": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            ),
            vals AS (
                SELECT d.n_chars::DOUBLE AS v,
                       (d.doc_id % {WAVG_WEIGHT_MOD} + 1)::DOUBLE AS w
                FROM matched m JOIN documents d USING (doc_id)
                WHERE d.n_chars IS NOT NULL
            )
            SELECT count(*)::BIGINT AS value_count,
                   round(sum(v * w) / sum(w), 6) AS weighted_avg
            FROM vals
        """,
        # composite page 2: the keyset filter pages the BUCKET space;
        # page 1's last key is the cursor on both engines.
        "composite_agg": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            ),
            buckets AS (
                SELECT d.source, d.lang, count(*)::BIGINT AS doc_count
                FROM matched m JOIN documents d USING (doc_id)
                WHERE d.source IS NOT NULL AND d.lang IS NOT NULL
                GROUP BY 1, 2
            ),
            p1 AS (
                SELECT source, lang FROM buckets
                ORDER BY source ASC, lang ASC LIMIT {COMPOSITE_SIZE}
            ),
            lastk AS (
                SELECT source, lang FROM p1
                ORDER BY source DESC, lang DESC LIMIT 1
            )
            SELECT b.source, b.lang, b.doc_count
            FROM buckets b, lastk l
            WHERE b.source > l.source
               OR (b.source = l.source AND b.lang > l.lang)
            ORDER BY b.source ASC, b.lang ASC
            LIMIT {COMPOSITE_SIZE}
        """,
        # filters: one named row per bag, distinct-doc counts, 0 kept
        "filters_agg": f"""
            WITH toks AS ({_TOKS_SQL})
            SELECT * FROM (
                {" UNION ALL ".join(
                    "SELECT '" + name + "' AS bucket, "
                    + "(SELECT count(DISTINCT doc_id) FROM toks WHERE term IN ("
                    + ", ".join("'" + t + "'" for t in bag)
                    + "))::BIGINT AS doc_count"
                    for name, bag in sorted(FILTERS_SPEC.items())
                )}
            ) ORDER BY bucket ASC
        """,
        # tfidf keywords: rank runs on the ROUNDED score both sides
        "tfidf_keywords": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
            stats AS (SELECT term, count(*)::DOUBLE AS df FROM posts GROUP BY 1),
            corpus AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM toks),
            scored AS (
                SELECT p.doc_id, p.term,
                       round(p.tf * ln(corpus.n / s.df), 6) AS score
                FROM posts p JOIN stats s ON p.term = s.term
                CROSS JOIN corpus
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY score DESC, term ASC
                ) AS rank
                FROM scored
            )
            SELECT doc_id, term, score, rank FROM ranked
            WHERE rank <= {TFIDF_K}
        """,
        # gopher rules: the flag battery replayed list-op for list-op;
        # the stopword count is an explicit contains-sum (distinct
        # semantics, no reliance on list_intersect dedup behaviour)
        "gopher_rules": f"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS words,
                       list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines
                FROM documents
            ), m AS (
                SELECT doc_id,
                    len(words)::DOUBLE AS n_words,
                    len(lines)::DOUBLE AS n_lines,
                    coalesce(list_sum(list_transform(words, x -> length(x))), 0)::DOUBLE AS swl,
                    len(list_filter(words, x -> contains(x, '#') OR contains(x, '...') OR contains(x, '…')))::DOUBLE AS n_sym,
                    len(list_filter(lines, x -> starts_with(trim(x), '•') OR starts_with(trim(x), '-') OR starts_with(trim(x), '*')))::DOUBLE AS n_bul,
                    len(list_filter(lines, x -> ends_with(trim(x), '...') OR ends_with(trim(x), '…')))::DOUBLE AS n_ell,
                    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE AS n_alpha,
                    ({" + ".join(f"(CASE WHEN list_contains(words, '{s}') THEN 1 ELSE 0 END)" for s in _GOPHER_STOPWORDS)}) AS n_stop
                FROM w
            )
            SELECT doc_id,
                (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
                coalesce(swl / n_words >= 3.0 AND swl / n_words <= 10.0, FALSE) AS rule_mean_word_len,
                coalesce(n_sym / n_words < 0.1, FALSE) AS rule_symbol_ratio,
                (CASE WHEN n_lines > 0 THEN n_bul / n_lines <= 0.9 ELSE TRUE END) AS rule_bullet_ratio,
                (CASE WHEN n_lines > 0 THEN n_ell / n_lines <= 0.3 ELSE TRUE END) AS rule_ellipsis_ratio,
                coalesce(n_alpha / n_words >= 0.8, FALSE) AS rule_alpha_ratio,
                (n_stop >= 2) AS rule_stopwords,
                ((n_words >= 50 AND n_words <= 100000)
                 AND coalesce(swl / n_words >= 3.0 AND swl / n_words <= 10.0, FALSE)
                 AND coalesce(n_sym / n_words < 0.1, FALSE)
                 AND (CASE WHEN n_lines > 0 THEN n_bul / n_lines <= 0.9 ELSE TRUE END)
                 AND (CASE WHEN n_lines > 0 THEN n_ell / n_lines <= 0.3 ELSE TRUE END)
                 AND coalesce(n_alpha / n_words >= 0.8, FALSE)
                 AND (n_stop >= 2)) AS gopher_pass
            FROM m
        """,
        "bigram_logprob": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
                FROM toks
            ),
            bi AS (
                SELECT a.doc_id, a.tok AS w1, b.tok AS w2
                FROM pos a JOIN pos b
                  ON b.doc_id = a.doc_id AND b.p = a.p + 1
            ),
            cb AS (SELECT w1, w2, count(*)::DOUBLE AS cb FROM bi GROUP BY 1, 2),
            cu AS (SELECT tok AS w1, count(*)::DOUBLE AS cu FROM pos GROUP BY 1),
            v AS (SELECT count(DISTINCT tok)::DOUBLE AS v FROM pos)
            SELECT bi.doc_id, count(*)::BIGINT AS n_bigrams,
                   round(avg(ln((cb.cb + 1) / (cu.cu + v.v))), 6) AS avg_logprob
            FROM bi
            JOIN cb USING (w1, w2)
            JOIN cu USING (w1)
            CROSS JOIN v
            GROUP BY bi.doc_id
        """,
        # phrase suggester: dist asc / df desc / term asc per position
        "phrase_suggest": f"""
            WITH toks AS ({_TOKS_SQL}),
            posts AS (SELECT term, doc_id FROM toks GROUP BY 1, 2),
            stats AS (SELECT term, count(*)::BIGINT AS df FROM posts GROUP BY 1),
            inputs(pos, original) AS (VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(SUGGEST_PHRASE))}),
            cands AS (
                SELECT i.pos, s.term, s.df,
                       levenshtein(s.term, i.original) AS dist
                FROM stats s CROSS JOIN inputs i
            ),
            best AS (
                SELECT pos, term, df, dist, row_number() OVER (
                    PARTITION BY pos ORDER BY dist ASC, df DESC, term ASC
                ) AS rnk
                FROM cands WHERE dist <= {SUGGEST_PHRASE_MAX_EDITS}
            )
            SELECT i.pos, i.original,
                   coalesce(b.term, i.original) AS suggestion,
                   b.dist, b.df
            FROM inputs i
            LEFT JOIN (SELECT * FROM best WHERE rnk = 1) b USING (pos)
            ORDER BY i.pos
        """,
        # robots.txt: longest-match parity law over the EXPECTED
        # parse of ROBOTS_TXT (parser drift mismatches here)
        "robots_allowed": f"""
            WITH urls AS (
                SELECT doc_id,
                       'src' || (doc_id % 20)::VARCHAR || '.example.com' AS host,
                       '/p' || (doc_id % 7)::VARCHAR || '/page' || doc_id::VARCHAR AS path
                FROM documents
            ),
            rules(host, path_prefix, allow) AS (VALUES {", ".join(
                "('" + h + "', '" + p_ + "', " + ("TRUE" if a else "FALSE") + ")"
                for h, p_, a in ROBOTS_RULES
            )}),
            matched AS (
                SELECT u.doc_id,
                       max(2 * length(r.path_prefix)
                           + CASE WHEN r.allow THEN 1 ELSE 0 END) AS best
                FROM urls u
                JOIN rules r
                  ON u.host = r.host
                 AND starts_with(u.path, r.path_prefix)
                GROUP BY 1
            )
            SELECT u.doc_id,
                   coalesce(m.best % 2 = 1, TRUE) AS allowed
            FROM urls u LEFT JOIN matched m USING (doc_id)
        """,
        # host_cap: per-host quota — row_number over the identical
        # md5-derived rank hash (parser/selection drift mismatches)
        "host_cap": f"""
            WITH d AS (
                SELECT doc_id,
                       'https://h' ||
                       (CASE WHEN doc_id % 2 = 0 THEN '0'
                             ELSE ((doc_id % 9) + 1)::VARCHAR END) ||
                       '.example/p' || doc_id::VARCHAR AS url,
                       CASE WHEN doc_id % 2 = 0 THEN 0
                            ELSE (doc_id % 9) + 1 END AS hostid
                FROM documents
            ),
            t AS (
                SELECT doc_id, url, hostid,
                       {_md5h64_sql("'hostcap-42-' || CAST(doc_id AS VARCHAR)")} AS h
                FROM d
            ),
            r AS (
                SELECT doc_id, url,
                       row_number() OVER (
                           PARTITION BY hostid ORDER BY h, doc_id
                       ) AS rn
                FROM t
            )
            SELECT doc_id, url FROM r WHERE rn <= {HOST_CAP}
        """,
        # session windows: gaps-and-islands with the INCLUSIVE gap
        # boundary (break strictly greater than gap)
        "session_stats": f"""
            WITH t AS (
                SELECT doc_id, lang, n_chars,
                       ({FRESH_EPOCH}::BIGINT + doc_id * {SESSION_STEP_S}) AS ts
                FROM documents
            ),
            o AS (
                SELECT *, lag(ts) OVER (
                    PARTITION BY lang ORDER BY ts, doc_id
                ) AS prev
                FROM t
            ),
            m AS (
                SELECT *, CASE WHEN prev IS NULL
                                 OR ts - prev > {SESSION_GAP_S}
                               THEN 1 ELSE 0 END AS brk
                FROM o
            ),
            g AS (
                SELECT *, sum(brk) OVER (
                    PARTITION BY lang ORDER BY ts, doc_id
                    ROWS UNBOUNDED PRECEDING
                ) AS grp
                FROM m
            )
            SELECT min(ts)::BIGINT AS session_start, lang,
                   count(*)::BIGINT AS doc_count,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM g
            GROUP BY lang, grp
        """,
        # DSIR: md5-bucketed unigram+bigram features; identical
        # smoothed-log arithmetic on both engines
        "dsir_logratio": f"""{_DSIR_CORE_SQL}
            SELECT doc_id, n_feats, round(logratio, 6) AS logratio
            FROM scores
        """,
        # NB quality classifier: identical md5 feature buckets, per-
        # class smoothed-log weights, doc-count prior — every number
        # replayed (training labels = every doc, label = lang='en')
        "nb_quality": f"""
            WITH toks AS (
                SELECT doc_id, (lang = 'en') AS lab,
                       list_filter(string_split(text, ' '), x -> x <> '') AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, lab, unnest(t) AS tok,
                       generate_subscripts(t, 1) AS p
                FROM toks
            ),
            feats AS (
                SELECT doc_id, lab, tok AS f FROM pos
                UNION ALL
                SELECT a.doc_id, a.lab, a.tok || ' ' || b.tok AS f
                FROM pos a JOIN pos b
                  ON b.doc_id = a.doc_id AND b.p = a.p + 1
            ),
            fb AS (
                SELECT doc_id, lab,
                       ('0x' || substr(md5(f), 1, 15))::BIGINT % {NB_DIM} AS bucket
                FROM feats
            ),
            counts AS (
                SELECT bucket,
                       sum(CASE WHEN lab THEN 1 ELSE 0 END)::DOUBLE AS cp,
                       sum(CASE WHEN lab THEN 0 ELSE 1 END)::DOUBLE AS cn
                FROM fb GROUP BY 1
            ),
            tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn FROM counts),
            nd AS (
                SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE AS np,
                       sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::DOUBLE AS nn
                FROM documents
            ),
            weights AS (
                SELECT bucket,
                       ln((cp + 1) / (tot.tp + {NB_DIM}))
                       - ln((cn + 1) / (tot.tn + {NB_DIM})) AS w
                FROM counts CROSS JOIN tot
            )
            SELECT fb.doc_id, count(*)::BIGINT AS n_feats,
                   round(ln(nd.np) - ln(nd.nn) + sum(w.w), 6) AS nb_score
            FROM fb
            JOIN weights w USING (bucket)
            CROSS JOIN nd
            GROUP BY fb.doc_id, nd.np, nd.nn
        """,
        "dsir_sample": f"""{_DSIR_CORE_SQL}
            SELECT doc_id,
                   round(logratio
                         + (- ln(- ln(
                               (('0x' || substr(md5('{DSIR_SEED}|' || doc_id::VARCHAR), 1, 15))::BIGINT::DOUBLE + 0.5)
                               / {_H60_SQL}
                           ))), 6) AS sample_key
            FROM scores
            ORDER BY sample_key DESC, doc_id ASC
            LIMIT {DSIR_K}
        """,
        # streaming windowed crawl stats: epoch-aligned tumbling
        # windows -> pure integer window arithmetic
        "streaming_window_stats": f"""
            SELECT (({FRESH_EPOCH}::BIGINT + doc_id * {FRESH_STEP_S})
                        // {WINDOW_SECONDS}) * {WINDOW_SECONDS} AS window_start,
                   source,
                   count(*)::BIGINT AS doc_count,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM documents
            GROUP BY 1, 2
        """,
        # adjacency_matrix: singles + pair intersections, zeros kept
        "adjacency_matrix": f"""
            WITH toks AS ({_TOKS_SQL})
            SELECT * FROM (
                {_am_branches_sql()}
            ) ORDER BY bucket ASC
        """,
        # terms_set: per-doc minimum_should_match threshold
        "terms_set_topk": f"""
            WITH toks AS ({_TOKS_SQL}),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM toks GROUP BY 1),
            corpus AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
            tfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1),
            scored AS (
                SELECT tfs.doc_id,
                       sum(
                           ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                           * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * dl.doc_len / corpus.avgdl))
                       ) AS s,
                       count(*) AS n_matched
                FROM tfs
                JOIN dfs ON tfs.term = dfs.term
                JOIN dl ON tfs.doc_id = dl.doc_id
                CROSS JOIN corpus
                GROUP BY tfs.doc_id
            )
            SELECT doc_id, round(s, 6) AS score
            FROM scored
            WHERE n_matched >= doc_id % 3 + 1
            ORDER BY score DESC, doc_id ASC
            LIMIT {TERMS_SET_K}
        """,
        "date_range_agg": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            ),
            vals AS (
                SELECT ({FRESH_EPOCH}::BIGINT + doc_id * {FRESH_STEP_S})::DOUBLE AS v
                FROM matched
            )
            {" UNION ALL ".join(
                "SELECT '" + _range_key(lo, hi) + "' AS key, "
                + "coalesce(sum(CASE WHEN "
                + " AND ".join(
                    ([f"v >= {float(lo)}"] if lo is not None else [])
                    + ([f"v < {float(hi)}"] if hi is not None else [])
                    or ["TRUE"]
                )
                + " THEN 1 ELSE 0 END), 0)::BIGINT AS doc_count FROM vals"
                for lo, hi in DATE_RANGES
            )}
        """,
        "missing_agg": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            )
            SELECT coalesce(sum(
                       CASE WHEN doc_id % {MISSING_MOD} = 0 THEN 1 ELSE 0 END
                   ), 0)::BIGINT AS missing_count
            FROM matched
        """,
        "facet_terms": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            )
            SELECT d.source AS value, count(*) AS doc_count
            FROM matched m JOIN documents d USING (doc_id)
            WHERE d.source IS NOT NULL
            GROUP BY 1
            ORDER BY doc_count DESC, value ASC
            LIMIT 10
        """,
        "date_histogram": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            )
            SELECT (({FRESH_EPOCH}::BIGINT + doc_id * {FRESH_STEP_S}) // 86400)
                       * 86400 AS bucket_start,
                   count(*) AS doc_count
            FROM matched
            GROUP BY 1
            ORDER BY bucket_start ASC
        """,
        "stats_agg": f"""
            WITH toks AS ({_TOKS_SQL}),
            matched AS (
                SELECT DISTINCT doc_id FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            )
            SELECT count(n_chars) AS count,
                   min(n_chars)::DOUBLE AS min,
                   max(n_chars)::DOUBLE AS max,
                   round(avg(n_chars), 6) AS avg,
                   sum(n_chars)::DOUBLE AS sum
            FROM matched JOIN documents USING (doc_id)
            WHERE n_chars IS NOT NULL
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, count(*) AS dup_count,
                   min(doc_id) AS canonical_doc_id
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        # whitespace-run normalization in lockstep with
        # functions/text.py::fingerprint (tabs/newlines collapse too)
        "fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(
                       list_filter(
                           string_split(
                               regexp_replace(lower(text), '\\s+', ' ', 'g'),
                               ' '),
                           x -> x <> ''),
                       ' ')) AS fingerprint
            FROM documents
        """,
        "token_count": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            )
            SELECT doc_id, len(toks) AS n_tokens,
                   CAST(list_sum(list_transform(toks,
                       x -> CAST(ceil(length(x) / 4.0) AS INT))) AS BIGINT) AS n_subwords
            FROM t
        """,
        "quality_score": f"""
            WITH t AS (
                SELECT doc_id, length(text) AS text_len,
                       list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
                FROM documents
            ),
            d AS (
                SELECT doc_id, text_len, len(toks) AS n_tokens,
                       len(list_filter(toks, x -> x IN ({stop_list}))) AS n_stop
                FROM t
            )
            SELECT doc_id, text_len, n_tokens,
                   round(n_stop / n_tokens, 6) AS stop_ratio,
                   CASE WHEN n_tokens < 20 THEN 'short'
                        WHEN n_stop / n_tokens > 0.1 THEN 'fluent'
                        ELSE 'listy' END AS quality_band
            FROM d
        """,
        "lang_id": f"""
            WITH t AS (
                SELECT doc_id, lang,
                       list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
                       length(regexp_replace(text, '[^가-힣]', '', 'g'))::DOUBLE
                           / length(text) AS hangul_ratio
                FROM documents
            )
            SELECT doc_id, lang,
                   CASE WHEN hangul_ratio > 0.3 THEN 'ko'
                        WHEN len(list_filter(toks, x -> x IN ({stop_list}))) >= 2 THEN 'en'
                        ELSE 'unknown' END AS pred_lang
            FROM t
        """,
        # repetition_stats: the Spark side computes top_token_frac as a
        # fold over the sorted token array (zero shuffles); the oracle
        # states the same RESULT declaratively via unnest + group-by.
        "repetition_stats": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            g AS (
                SELECT doc_id, toks, len(toks) AS n,
                       CASE WHEN len(toks) >= 2
                            THEN list_transform(generate_series(1, len(toks) - 1),
                                                i -> toks[i] || ' ' || toks[i + 1])
                            ELSE [] END AS grams
                FROM t
            ),
            tc AS (
                SELECT doc_id, count(*) AS cnt
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                GROUP BY doc_id, tok
            ),
            top AS (SELECT doc_id, max(cnt) AS top_cnt FROM tc GROUP BY doc_id)
            SELECT g.doc_id, n AS n_tokens,
                   CASE WHEN n > 0
                        THEN round((n - len(list_distinct(toks))) / n, 6)
                        ELSE 0.0 END AS dup_token_frac,
                   CASE WHEN len(grams) > 0
                        THEN round((len(grams) - len(list_distinct(grams)))
                                   / len(grams), 6)
                        ELSE 0.0 END AS dup_bigram_frac,
                   CASE WHEN n > 0
                        THEN round(coalesce(top_cnt, 0) / n, 6)
                        ELSE 0.0 END AS top_token_frac
            FROM g LEFT JOIN top ON g.doc_id = top.doc_id
        """,
        "domain_stats": """
            WITH d AS (
                SELECT source AS domain, length(text) AS text_len,
                       len(list_filter(string_split(text, ' '), x -> x <> ''))
                           AS n_toks
                FROM documents
            )
            SELECT domain, count(*) AS n_docs,
                   CAST(sum(text_len) AS BIGINT) AS total_chars,
                   round(avg(text_len), 4) AS avg_chars,
                   round(avg(n_toks), 4) AS avg_tokens,
                   CAST(sum(CASE WHEN text_len < 100 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_short
            FROM d GROUP BY domain
        """,
        # pii_redact: injection mirrors _pii_injected exactly; patterns
        # interpolate from functions.curation so the two sides cannot
        # drift. DuckDB regexp_replace needs the explicit 'g' flag to
        # match Spark's replace-all default.
        "pii_redact": f"""
            WITH inj AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' contact user' || doc_id || '@example.com'
                               ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                               THEN ' call 010-1234-5678' ELSE '' END
                       || CASE WHEN doc_id % 13 = 0
                               THEN ' host 10.0.' || (doc_id % 250) || '.7'
                               ELSE '' END AS text
                FROM documents
            )
            ,
            st AS (
                SELECT doc_id, text,
                       regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g')
                           AS after_email
                FROM inj
            ),
            st2 AS (
                SELECT *, regexp_replace(after_email, '{IPV4_RE}', '[IP]', 'g')
                              AS after_ip
                FROM st
            )
            SELECT doc_id,
                   len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
                   len(regexp_extract_all(after_ip, '{PHONE_RE}')) AS n_phones,
                   len(regexp_extract_all(after_email, '{IPV4_RE}')) AS n_ips,
                   regexp_replace(after_ip, '{PHONE_RE}', '[PHONE]', 'g')
                       AS redacted
            FROM st2
        """,
        # span_dedup: the Spark side keeps the global first occurrence
        # via a combine-safe min(struct) aggregation; the oracle states
        # the same winner with row_number over (doc_id, span_idx).
        # Plain string on purpose: the DuckDB struct literal uses {}.
        "span_dedup": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            s0 AS (
                SELECT doc_id,
                       CASE WHEN len(toks) > 0 THEN
                           list_transform(
                               generate_series(0, CAST(floor((len(toks) - 1) / 10) AS INT)),
                               i -> {'idx': i,
                                     'span': array_to_string(
                                         list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')})
                       ELSE [] END AS spans
                FROM t
            ),
            sp AS (SELECT doc_id, unnest(spans) AS u FROM s0),
            rk AS (
                SELECT doc_id, u.idx AS idx, u.span AS span,
                       row_number() OVER (PARTITION BY md5(u.span)
                                          ORDER BY doc_id, u.idx) AS rn
                FROM sp
            ),
            r AS (
                SELECT doc_id,
                       string_agg(span, ' ' ORDER BY idx) AS clean_text,
                       CAST(count(*) AS BIGINT) AS n_spans_kept
                FROM rk WHERE rn = 1 GROUP BY doc_id
            )
            SELECT s0.doc_id, coalesce(clean_text, '') AS clean_text,
                   CAST(coalesce(n_spans_kept, 0) AS BIGINT) AS n_spans_kept,
                   CAST(len(spans) - coalesce(n_spans_kept, 0) AS BIGINT)
                       AS n_spans_removed
            FROM s0 LEFT JOIN r ON s0.doc_id = r.doc_id
        """,
        "ngram_jaccard_pairs": f"""
            WITH {_shingle_hash_ctes()}
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS common_shingles
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 5
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_shingle_hash_ctes()},
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 5
            ),
            edges AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs
            ),
            reach(v, label) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.v
            )
            SELECT v AS doc_id, min(label) AS cluster_id FROM reach GROUP BY v
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE {_md5h64_sql("'sample-42-' || CAST(doc_id AS VARCHAR)")} % 1000000
                  < CASE lang WHEN 'de' THEN 1.0 WHEN 'en' THEN 0.5
                              ELSE 0.1 END * 1000000
        """,
        "weighted_sample": f"""
            SELECT doc_id FROM documents
            WHERE {_md5h64_sql("'wsample-42-' || CAST(doc_id AS VARCHAR)")} % 1000000
                  < greatest(least(n_chars / {WSAMPLE_SCALE}, 1.0), 0.0)
                    * 1000000
        """,
        # percolate: conjunctive queries 0-2 (all DISTINCT terms
        # present) + the msm=2 disjunction for query 3, tagged by mode
        "percolate": f"""
            WITH toks AS ({_TOKS_SQL}),
            dtoks AS (SELECT DISTINCT doc_id, term FROM toks),
            q AS (
                SELECT * FROM (VALUES
                    {", ".join(f"({qid}, {sorted(set(ts))!r}, {len(set(ts))}, '{'msm' if qid == 3 else 'and'}')" for qid, ts in PERCOLATE_QUERIES)}
                ) AS v(query_id, terms, n_terms, mode)
            ),
            qterms AS (
                SELECT query_id, n_terms, mode, unnest(terms) AS term FROM q
            ),
            hits AS (
                SELECT d.doc_id, s.query_id, s.n_terms, s.mode,
                       count(*) AS n_matched
                FROM dtoks d JOIN qterms s USING (term)
                GROUP BY 1, 2, 3, 4
            )
            SELECT doc_id, query_id::BIGINT AS query_id,
                   n_matched::BIGINT AS n_matched, mode
            FROM hits
            WHERE (mode = 'and' AND n_matched = n_terms)
               OR (mode = 'msm' AND n_matched >= {PERCOLATE_MSM})
        """,
        "chunk_documents": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            starts AS (
                SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS s
                FROM t WHERE len(toks) > 0
            )
            SELECT doc_id,
                   (s // {CHUNK_STRIDE})::BIGINT AS chunk_id,
                   len(toks[s + 1 : s + {CHUNK_MAX_TOKENS}])::BIGINT AS n_tokens,
                   array_to_string(toks[s + 1 : s + {CHUNK_MAX_TOKENS}], ' ')
                       AS chunk_text
            FROM starts
        """,
        "multimodal_features": """
            SELECT doc_id, 'image' AS media_type,
                   md5('FAKEIMG0' || text) AS checksum,
                   octet_length(encode('FAKEIMG0' || text)) AS n_bytes
            FROM documents
        """,
        "ann_cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 3
            ),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS cosine
                FROM embeddings e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
                FROM scored
            )
            SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= 10
        """,
        "decontaminate": _decontaminate_sql(n=4),
        # unigram_logprob: both sides divide the SAME bigint count by
        # the same double total (IEEE division is correctly rounded, so
        # the ln() inputs are bit-identical); round-6 absorbs libm-ulp
        # and summation-order noise, as the ANN oracles already do.
        "unigram_logprob": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS term
                FROM documents
            ),
            counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS s FROM counts),
            vocab AS (
                SELECT term, ln(c / (SELECT s FROM tot)) AS lp
                FROM counts WHERE c >= 5
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   round(avg(coalesce(lp, -ln((SELECT s FROM tot)))), 6)
                       AS avg_logprob
            FROM toks LEFT JOIN vocab USING (term)
            GROUP BY doc_id
        """,
        # normalize_nfc: chr() builds the combining marks so no raw
        # combining characters sit in this source file.
        "normalize_nfc": """
            WITH inj AS (
                SELECT doc_id,
                       text || CASE WHEN doc_id % 5 = 0
                                    THEN ' cafe' || chr(769) || ' A' || chr(778)
                                    ELSE '' END AS text
                FROM documents
            )
            SELECT doc_id, md5(nfc_normalize(text)) AS norm_md5,
                   nfc_normalize(text) <> text AS changed
            FROM inj
        """,
        # extract_text: fragments + patterns interpolate from the same
        # constants the Spark side uses (sources.webpages), so the two
        # sides cannot drift; DuckDB regexp_replace needs the explicit
        # 'g' flag to match Spark's replace-all default.
        "extract_text": f"""
            WITH pages AS (
                SELECT doc_id,
                       '{_HTML_INJ[0]}' || doc_id || '{_HTML_INJ[1]}'
                       || doc_id || '{_HTML_INJ[2]}' || doc_id
                       || '{_HTML_INJ[3]}' || text || '{_HTML_INJ[4]}' AS html
                FROM documents
            ),
            x AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(html,
                               '{_HTML_SCRIPT_RE}', ' ', 'g'),
                           '{_HTML_STYLE_RE}', ' ', 'g'),
                           '{_HTML_COMMENT_RE}', ' ', 'g'),
                           '{_HTML_TAG_RE}', ' ', 'g') AS t
                FROM pages
            ),
            e AS (
                SELECT doc_id, {_entity_chain_sql("t")} AS t
                FROM x
            )
            SELECT doc_id,
                   trim(regexp_replace(t, '{_HTML_WS_RE}', ' ', 'g')) AS text,
                   length(trim(regexp_replace(t, '{_HTML_WS_RE}', ' ', 'g')))
                       AS n_chars
            FROM e
        """,
        # detect_charset: injection mirrors _q_detect_charset; the
        # detection replays the SAME CHARSET_META_RE + CHARSET_ALIASES
        # constants the Catalyst expression uses (sources.webpages) at
        # string level — BOM char first, then the meta scan through
        # the generated alias CASE chain, then the utf-8 default.
        "detect_charset": f"""
            WITH h AS (
                SELECT doc_id,
                    (CASE WHEN doc_id % 7 = 0 THEN chr(65279) ELSE '' END)
                    || '<html><head>'
                    || (CASE WHEN doc_id % 6 = 0
                             THEN '<meta charset="EUC-KR">'
                             WHEN doc_id % 6 = 1
                             THEN '<meta http-equiv="Content-Type"' ||
                                  ' content="text/html; charset=ks_c_5601-1987">'
                             WHEN doc_id % 6 = 2 THEN '<meta CHARSET=utf-8>'
                             WHEN doc_id % 6 = 3 THEN ''
                             WHEN doc_id % 6 = 4
                             THEN '<meta charset="x-unknown">'
                             ELSE '<meta charset=''MS949''>' END)
                    || '</head><body>' || text || '</body></html>' AS s
                FROM documents
            ),
            lab AS (
                SELECT doc_id, s,
                    lower(regexp_extract(s,
                        '{_CHARSET_META_RE.replace("'", "''")}', 1)) AS label
                FROM h
            )
            SELECT doc_id,
                CASE WHEN left(s, 1) = chr(65279) THEN 'utf-8'
                     {" ".join(f"WHEN label = '{k}' THEN '{v}'" for k, v in _CHARSET_ALIASES.items())}
                     ELSE 'utf-8' END AS charset
            FROM lab
        """,
        # robots_noindex: injection mirrors _q_robots_noindex; the
        # oracle replays the shared HTML_NOINDEX_RE verbatim.
        "robots_noindex": f"""
            WITH h AS (
                SELECT doc_id,
                    '<html><head>'
                    || (CASE WHEN doc_id % 5 = 0
                             THEN '<meta name="robots"' ||
                                  ' content="noindex, nofollow">'
                             WHEN doc_id % 5 = 1
                             THEN '<meta content="NOINDEX" name=robots>'
                             WHEN doc_id % 5 = 2
                             THEN '<meta name="robots"' ||
                                  ' content="index, follow">'
                             WHEN doc_id % 5 = 3 THEN ''
                             ELSE '<meta name="description"' ||
                                  ' content="noindex discussion">' END)
                    || '</head><body>' || text || '</body></html>' AS s
                FROM documents
            )
            SELECT doc_id,
                   regexp_matches(s,
                       '{_HTML_NOINDEX_RE.replace("'", "''")}') AS noindex
            FROM h
        """,
        # canonical_urls: injection mirrors _q_canonical_urls; the
        # canonicalization chain interpolates the SAME regex constants
        # the Spark expression uses (functions.curation), so the two
        # sides cannot drift.
        # extract_links / host_link_graph / pagerank_hosts: one shared
        # injection + extraction rendering (_webgraph_links_sql) so the
        # three web-graph oracles cannot drift from each other
        "extract_links": f"""
            WITH {_webgraph_links_sql()}
            SELECT url, href FROM links
        """,
        "host_link_graph": f"""
            WITH {_webgraph_edges_sql()}
            SELECT src_host, dst_host, n_links FROM edges
        """,
        "pagerank_hosts": _pagerank_sql(iters=3, damping=0.85),
        # boosted_bm25_topk: the unrolled-PageRank CTE chain feeding a
        # per-doc centrality prior (ln(1 + rank*N), N = |graph nodes|)
        # blended into the bm25_topk formulation BEFORE the top-k cut
        "boosted_bm25_topk": f"""
            WITH {_pagerank_cte_body(iters=3, damping=0.85)},
            ranks AS (SELECT node, rank FROM r3),
            nh AS (SELECT count(*)::DOUBLE AS n FROM ranks),
            boosts AS (
                SELECT d.doc_id,
                       ln(1 + ranks.rank * (SELECT n FROM nh)) AS boost
                FROM documents d
                JOIN ranks
                  ON ranks.node = 'h' || (d.doc_id % 5) || '.example'
            ),
            btoks AS ({_TOKS_SQL}),
            bdl AS (
                SELECT doc_id, count(*)::DOUBLE AS doc_len
                FROM btoks GROUP BY 1
            ),
            bcorpus AS (
                SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM bdl
            ),
            btfs AS (
                SELECT term, doc_id, count(*)::DOUBLE AS tf FROM btoks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            bdfs AS (SELECT term, count(*)::DOUBLE AS df FROM btfs GROUP BY 1),
            base AS (
                SELECT btfs.doc_id,
                       sum(
                           ln(1 + (bcorpus.n - bdfs.df + 0.5)
                              / (bdfs.df + 0.5))
                           * btfs.tf / (btfs.tf + {K1} * (1 - {B}
                               + {B} * bdl.doc_len / bcorpus.avgdl))
                       ) AS base
                FROM btfs
                JOIN bdfs ON btfs.term = bdfs.term
                JOIN bdl ON btfs.doc_id = bdl.doc_id
                CROSS JOIN bcorpus
                GROUP BY btfs.doc_id
            )
            SELECT base.doc_id,
                   round(base.base
                         + {BOOST_W} * coalesce(boosts.boost, 0.0), 6)
                       AS score
            FROM base LEFT JOIN boosts ON boosts.doc_id = base.doc_id
            ORDER BY score DESC, base.doc_id ASC
            LIMIT 10
        """,
        # anchor_texts / incoming_anchors / anchor_bm25f_topk: one
        # shared injection + extraction rendering (_anchor_pages_sql)
        # so the three anchor oracles cannot drift from each other.
        # The incoming join key is the exact url (the injection is
        # canonical by construction — see _anchor_pages).
        "anchor_texts": f"""
            WITH {_anchor_pages_sql()}
            SELECT url, href, anchor FROM anchors
        """,
        # extract_title: injection mirrors _q_extract_title; the oracle
        # replays the shared HTML_TITLE_RE + entity chain + whitespace
        # collapse at string level.
        "extract_title": f"""
            WITH tinj AS (
                SELECT doc_id,
                    (CASE WHEN doc_id % 5 = 0 THEN '<head></head>'
                     WHEN doc_id % 5 = 1
                     THEN '<head><title>'
                          || array_to_string(list_filter(
                               string_split(text, ' '), x -> x <> '')[1:6], ' ')
                          || '</title></head>'
                     WHEN doc_id % 5 = 2
                     THEN '<head><TITLE class="t"> 제목 &amp; '
                          || array_to_string(list_filter(
                               string_split(text, ' '), x -> x <> '')[1:6], ' ')
                          || ' </TITLE></head>'
                     WHEN doc_id % 5 = 3
                     THEN '<head><title>first ' || doc_id
                          || '</title><title>second</title></head>'
                     ELSE '<head><title>부분 <b>markup</b> '
                          || array_to_string(list_filter(
                               string_split(text, ' '), x -> x <> '')[1:6], ' ')
                          || '</title></head>' END)
                    || '<body>x</body>' AS html
                FROM documents
            ),
            tx AS (
                SELECT doc_id,
                    regexp_extract(html,
                        '{_HTML_TITLE_RE.replace("'", "''")}', 1) AS t
                FROM tinj
            ),
            te AS (SELECT doc_id, {_entity_chain_sql("t")} AS t FROM tx)
            SELECT doc_id,
                   trim(regexp_replace(t, '{_HTML_WS_RE}', ' ', 'g')) AS title
            FROM te
        """,
        "incoming_anchors": f"""
            WITH {_anchor_pages_sql()},
            tgt AS (SELECT DISTINCT url FROM ainj)
            SELECT a.href AS url, a.anchor, count(*) AS n_incoming
            FROM anchors a JOIN tgt ON a.href = tgt.url
            GROUP BY 1, 2
        """,
        "anchor_bm25f_topk": f"""
            WITH {_anchor_pages_sql()},
            ids AS (SELECT doc_id, url FROM ainj),
            atoks AS (
                SELECT ids.doc_id,
                       unnest(list_filter(string_split(a.anchor, ' '),
                           x -> x <> '')) AS term
                FROM anchors a JOIN ids ON a.href = ids.url
            ),
            btoks AS ({_TOKS_SQL}),
            toks AS (
                SELECT doc_id, term, 1.0::DOUBLE AS w FROM btoks
                UNION ALL
                SELECT doc_id, term, {ANCHOR_W}::DOUBLE AS w FROM atoks
            ),
            dl AS (SELECT doc_id, sum(w) AS doc_len FROM toks GROUP BY 1),
            corpus AS (
                SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
            ),
            tfs AS (
                SELECT term, doc_id, sum(w) AS tf FROM toks
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
                GROUP BY 1, 2
            ),
            dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tfs GROUP BY 1)
            SELECT tfs.doc_id,
                   round(sum(
                       ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
                       * tfs.tf / (tfs.tf + {K1} * (1 - {B}
                           + {B} * dl.doc_len / corpus.avgdl))
                   ), 6) AS score
            FROM tfs
            JOIN dfs ON tfs.term = dfs.term
            JOIN dl ON tfs.doc_id = dl.doc_id
            CROSS JOIN corpus
            GROUP BY tfs.doc_id
            ORDER BY score DESC, tfs.doc_id ASC
            LIMIT 10
        """,
        "canonical_urls": f"""
            WITH inj AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 17 = 0
                         THEN 'doc ' || doc_id || ' no url'
                    ELSE
                      (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://'
                            ELSE 'HTTP://' END)
                      || 'Example-' || (doc_id % 40) || '.COM'
                      || (CASE WHEN doc_id % 3 = 0 THEN ':80'
                               WHEN doc_id % 3 = 1 THEN ':443'
                               ELSE '' END)
                      || (CASE WHEN doc_id % 4 = 0 THEN '/'
                               WHEN doc_id % 4 = 1 THEN ''
                               ELSE '/P' || doc_id END)
                      || (CASE WHEN doc_id % 5 = 0
                               THEN '?utm_source=x&b=' || doc_id || '&a=1'
                               WHEN doc_id % 5 = 1 THEN '?z=1&y=2'
                               WHEN doc_id % 5 = 2
                               THEN '?utm_campaign&fbclid=f'
                               ELSE '' END)
                      || (CASE WHEN doc_id % 14 = 0 THEN '#Frag?t=1'
                               WHEN doc_id % 7 = 0 THEN '#Frag'
                               ELSE '' END)
                    END AS url
                FROM documents
            ),
            s AS (SELECT doc_id, url, trim(url) AS u FROM inj),
            p AS (
                SELECT doc_id, url, u,
                    lower(regexp_extract(u, '{_URL_SCHEME_RE}', 1)) AS scheme,
                    lower(regexp_extract(u, '{_URL_HOSTPORT_RE}', 1))
                        AS hostport,
                    regexp_extract(u, '{_URL_PATH_RE}', 1) AS path0,
                    regexp_extract(u, '{_URL_QUERY_RE}', 1) AS query
                FROM s
            ),
            q AS (
                SELECT *,
                    CASE WHEN scheme = 'http'
                         THEN regexp_replace(hostport, ':80$', '')
                         WHEN scheme = 'https'
                         THEN regexp_replace(hostport, ':443$', '')
                         ELSE hostport END AS host,
                    CASE WHEN path0 = '/' THEN '' ELSE path0 END AS path,
                    list_sort(list_filter(string_split(query, '&'),
                        x -> x <> ''
                             AND NOT regexp_matches(x, '{URL_TRACKING_RE}')))
                        AS params
                FROM p
            )
            SELECT doc_id, url,
                CASE WHEN scheme = '' THEN u
                     ELSE scheme || '://' || host || path ||
                          CASE WHEN len(params) > 0
                               THEN '?' || array_to_string(params, '&')
                               ELSE '' END
                END AS canon_url
            FROM q
        """,
        "pack_manifest": """
            WITH t AS (
                SELECT doc_id,
                       CAST(len(coalesce(
                           list_filter(string_split(text, ' '), x -> x <> ''),
                           [])) AS BIGINT) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS token_start
                FROM t
            )
            SELECT doc_id, n_tokens, token_start,
                   CASE WHEN n_tokens > 0
                        THEN CAST(floor(token_start / 64) AS BIGINT) END
                       AS seq_first,
                   CASE WHEN n_tokens > 0
                        THEN CAST(floor((token_start + n_tokens - 1) / 64)
                                  AS BIGINT) END AS seq_last
            FROM c
        """,
        "minhash_near_dup": _minhash_near_dup_sql(),
        "simhash_candidates": _simhash_candidates_sql(),
        "simhash_verified": _simhash_candidates_sql(max_hamming=3),
        "ann_lsh_topk": _ann_lsh_topk_sql(),
        "ann_ivf_topk": _ann_ivf_topk_sql(),
        "kmeans_clusters": _kmeans_clusters_sql(),
        "emb_near_dup": _emb_near_dup_sql(),
        "batch_bm25_topk": _batch_bm25_topk_sql(),
        # positional phrase retrieval: token adjacency via unnest
        # ordinality self-joins (p+1 chains), one UNION branch per
        # contract phrase — mirrors the serving engine's consecutive-
        # position check over varint-encoded pos_deltas
        "phrase_match": _phrase_match_sql(),
        "phrase_match_distributed": _phrase_match_sql(),
        # Q8 count semantics from the block index
        "match_count": _match_count_sql(),
        "synonym_or_topk": _synonym_or_topk_sql(),
        "nested_phrase_topk": _nested_phrase_topk_sql(),
        "not_topk": _not_topk_sql(),
        "scroll_page": _scroll_page_sql(),
        "search_after_page": _search_after_page_sql(),
        # Q9 char spans: cumulative token lengths over the UNFILTERED
        # split (each empty token from consecutive spaces consumes one
        # separator char, exactly as the Python side counts)
        "highlight_spans": f"""
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ), pos AS (
                SELECT doc_id, unnest(t) AS tok,
                       generate_subscripts(t, 1) AS i
                FROM toks
            ), offs AS (
                SELECT doc_id, tok,
                       COALESCE(sum(length(tok) + 1) OVER (
                           PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS s
                FROM pos
            )
            SELECT doc_id, CAST(s AS BIGINT) AS start_offset,
                   CAST(s + length(tok) AS BIGINT) AS end_offset
            FROM offs
            WHERE lower(tok) IN ({", ".join(f"'{t}'" for t in HIGHLIGHT_TERMS)})
        """,
        # incremental streaming index ≡ batch: same oracle as postings_tf
        "streaming_postings_tf": f"""
            WITH toks AS ({_TOKS_SQL})
            SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
        """,
        # stateful streaming dedup: first arrival per text wins — batch 1
        # carries the originals, so min doc_id per text IS the survivor
        "streaming_dedup": """
            WITH all_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id + 10000, text FROM documents
                UNION ALL SELECT 20000 + i, 'uniq new page ' || i::VARCHAR
                          FROM range(10) t(i)
            )
            SELECT min(doc_id) AS doc_id, md5(text) AS text_hash
            FROM all_docs GROUP BY text
        """,
    }
