"""Corpus-curation operators for web-scale training-data pipelines:
repetition scoring (Gopher-style), per-domain aggregates, and PII
redaction.

Like the siblings in :mod:`.text`, every operator here is a pure
Catalyst expression pipeline (whole-stage codegen, zero Python in the
row path) over a ``documents``-shaped table, and each has an exact
ANSI-SQL oracle in ``__spark_entry__``. Scale notes per operator:

* :func:`repetition_stats` is per-doc map work — ZERO shuffles by
  design. Counting a document's own token repetition by exploding the
  corpus into a (doc, token) shuffle would move 100 TB to compute a
  per-row statistic; instead the top-token run rides a fold over the
  row's sorted token array (O(n log n) per doc, all inside codegen).
* :func:`domain_stats` is one hash aggregation with map-side partial
  combine — the per-key state is five numbers, so the shuffle carries
  ~one row per (partition, domain), not per document.
* :func:`pii_redact` is per-doc regex map work — zero shuffles; the
  patterns stay in the RE2-compatible subset (no backrefs, no
  lookaround) so the DuckDB oracle matches byte-for-byte.
"""

from __future__ import annotations

import math

# module-level on purpose: pandas_udf resolves postponed ("stringified")
# type hints against module globals, so a function-local `import pandas`
# breaks Series-annotation inference under `from __future__ import
# annotations`
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .text import whitespace_tokens

__all__ = [
    "repetition_stats",
    "repetition_filter",
    "blocklist_stats",
    "blocklist_filter",
    "domain_stats",
    "cap_per_host",
    "host_of",
    "canonical_url",
    "canonicalize_urls",
    "URL_TRACKING_RE",
    "pii_redact",
    "scrub_pii",
    "span_dedup",
    "contamination",
    "decontaminate",
    "pack_manifest",
    "nb_quality_scores",
    "unigram_logprob",
    "normalize_text",
    "EMAIL_RE",
    "PHONE_RE",
    "IPV4_RE",
]


def _safe_frac(num: Column, den: Column) -> Column:
    """round(num/den, 6) with the den==0 → 0.0 convention (an empty doc
    has no repetition, not NULL repetition)."""
    return F.when(den > 0, F.round(num / den, 6)).otherwise(F.lit(0.0))


def _repetition_cols(text: str) -> dict[str, Column]:
    """The shared per-row repetition expressions — used by
    :func:`repetition_stats` (reporting) and :func:`repetition_filter`
    (inline predicate, no join-back of a stats relation)."""
    toks = whitespace_tokens(text)
    n = F.size(toks)
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_run = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return {
        "n_tokens": n,
        "dup_token_frac": _safe_frac(n - F.size(F.array_distinct(toks)), n),
        "dup_bigram_frac": _safe_frac(
            F.size(grams) - F.size(F.array_distinct(grams)), F.size(grams)
        ),
        "top_token_frac": _safe_frac(top_run, n),
    }


def repetition_stats(docs: DataFrame, text: str = "text") -> DataFrame:
    """Per-doc repetition signals in the style of the Gopher quality
    filters (Rae et al. 2021, §A1.1): fraction of duplicate tokens,
    fraction of duplicate 2-grams, and the share of the single most
    frequent token. Boilerplate-heavy or looping machine-generated
    pages score high and get dropped by a threshold filter.

    All three stats are pure per-row array expressions:

    * ``dup_token_frac`` / ``dup_bigram_frac``: ``1 - distinct/total``
      via ``array_distinct`` (0.0 for docs too short to form grams).
    * ``top_token_frac``: longest equal-run over the SORTED token array
      via one ``aggregate`` fold with a (prev, run, best) struct
      accumulator — O(n) after the O(n log n) sort, no corpus-wide
      (doc, token) explode+shuffle for what is per-document state.
    """
    cols = _repetition_cols(text)
    return docs.select(
        "doc_id", *(expr.alias(name) for name, expr in cols.items())
    )


def repetition_filter(
    docs: DataFrame,
    text: str = "text",
    max_dup_token_frac: float | None = None,
    max_dup_bigram_frac: float | None = None,
    max_top_token_frac: float | None = None,
) -> DataFrame:
    """Drop repetition-heavy docs (the Gopher filter proper): keeps all
    input columns, evaluating the repetition expressions INLINE as a
    predicate — no stats relation to join back, so the filter stays a
    zero-shuffle map stage that pipelines into whatever follows."""
    cols = _repetition_cols(text)
    pred = F.lit(True)
    for limit, name in (
        (max_dup_token_frac, "dup_token_frac"),
        (max_dup_bigram_frac, "dup_bigram_frac"),
        (max_top_token_frac, "top_token_frac"),
    ):
        if limit is not None:
            pred = pred & (cols[name] <= limit)
    return docs.filter(pred)


def _blocklist_cols(text: str, words: list[str]) -> dict[str, Column]:
    """Shared blocklist expressions: token-level membership against a
    lowercased word set (C4's "bad words" filter is word-, not
    substring-, based — 'class' must not trip on 'ass'). The word list
    is a query-side literal array: tiny by contract (hundreds of
    entries), so membership is a codegen'd set probe per token with no
    join anywhere."""
    wordset = sorted({w.lower() for w in words})
    toks = whitespace_tokens(text)
    n = F.size(toks)
    blocked = F.size(
        F.filter(toks, lambda x: F.lower(x).isin(wordset))
    )
    return {
        "n_tokens": n,
        "blocked_tokens": blocked,
        "blocked_frac": _safe_frac(blocked, n),
    }


def blocklist_stats(
    docs: DataFrame, words: list[str], text: str = "text"
) -> DataFrame:
    """Per-doc blocklist signals ``(doc_id, n_tokens, blocked_tokens,
    blocked_frac)`` — the C4-style word-blocklist measurement (Raffel
    et al. 2020 drop any page containing a listed word; real pipelines
    usually threshold on the FRACTION instead, which this reports).
    Case-insensitive exact-token matches; empty docs read 0.0."""
    cols = _blocklist_cols(text, words)
    return docs.select(
        "doc_id", *(expr.alias(name) for name, expr in cols.items())
    )


def blocklist_filter(
    docs: DataFrame,
    words: list[str],
    max_blocked_frac: float = 0.0,
    text: str = "text",
) -> DataFrame:
    """Drop docs whose blocklisted-token fraction exceeds
    ``max_blocked_frac`` (0.0 = C4's any-occurrence drop). Inline
    predicate over all input columns — zero-shuffle map stage, same
    shape as :func:`repetition_filter`."""
    cols = _blocklist_cols(text, words)
    return docs.filter(cols["blocked_frac"] <= float(max_blocked_frac))


def domain_stats(
    docs: DataFrame, domain: Column | str = "source", text: str = "text"
) -> DataFrame:
    """Per-domain corpus aggregates — the inventory pass behind
    C4-style domain allow/block-listing and per-source mixing weights.

    One hash aggregation keyed on the domain column (for a CC-shaped
    ``(url, ...)`` corpus, pass a host expression for ``domain``, e.g.
    ``host_of("url")``): count, total/mean
    length, mean token count, and the count of sub-100-char docs (the
    usual junk-page signal). Map-side partial aggregation means the
    shuffle carries one row per (input partition, domain); domain
    cardinality (~10^7 hosts at CC scale) is far below doc cardinality,
    so this is the cheapest possible pass over the corpus.
    """
    dom = F.col(domain) if isinstance(domain, str) else domain
    d = docs.select(
        dom.alias("domain"),
        F.length(text).alias("text_len"),
        F.size(whitespace_tokens(text)).alias("n_toks"),
    )
    return d.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("text_len").alias("total_chars"),
        F.round(F.avg("text_len"), 4).alias("avg_chars"),
        F.round(F.avg("n_toks"), 4).alias("avg_tokens"),
        F.sum(F.when(F.col("text_len") < 100, 1).otherwise(0)).alias(
            "n_short"
        ),
    )


def cap_per_host(
    docs: DataFrame,
    cap: int,
    host: Column | str | None = None,
    id_col: str = "doc_id",
    seed: int = 42,
    precut: bool = True,
) -> DataFrame:
    """Per-host document quota — the C4/CC-Net "no host dominates the
    corpus" stage: keep at most ``cap`` documents per host, selected
    deterministically as the ``cap`` smallest md5-derived hashes of
    ``(seed, doc id)`` (ties broken by id). Like
    :func:`..text.stratified_sample`, the keep decision is a pure
    function of the row — reruns, retries, and different partitionings
    all keep the SAME documents, and the law is exactly replicable in
    an oracle (``row_number() over (partition by host order by hash,
    id) <= cap``).

    ``host`` defaults to :func:`host_of` over a ``url`` column; pass a
    column/name for pre-extracted hosts. Returns ``docs`` filtered,
    columns unchanged.

    NULL hosts (unparseable / missing URL) pass through UNCAPPED: a
    NULL key never equals itself in the over-cap semi/anti joins, so
    such docs are never grouped into a quota — the same
    absence-of-evidence convention as ``min_host_rank`` (no host ⇒ no
    host-level judgement). Callers that want the null-host pool capped
    as one group should coalesce to a sentinel first, e.g.
    ``cap_per_host(docs, cap, host=F.coalesce(host_of("url"),
    F.lit("<nohost>")))``.

    Scale shape (the mega-host is the whole point of this operator):
    a naive per-host ``row_number`` window puts a 10^8-page host in
    ONE task. Instead:

    1. one map-side-combined count finds the OVER-cap hosts (a tiny
       relation at any scale — it broadcasts);
    2. under-cap hosts' docs pass through UNTOUCHED on a broadcast
       anti join (narrow — the bulk of the corpus never shuffles);
    3. over-cap hosts' ``(id, host, hash)`` projection takes a
       partition-local pre-cut (``mapInPandas`` keeping the ≤``cap``
       best candidates per host per input partition — a superset of
       the global winners, so the result stays exact), bounding the
       final exact window to ≤ cap·P rows per host;
    4. the kept ids semi-join back against the over-cap slice only.

    ``precut=False`` skips step 3 (plain window over the over-cap
    slice) — useful for plan comparisons in tests."""
    from collections.abc import Iterator

    from pyspark.sql import Window

    from .hashing import md5_h64

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    h = (
        host_of("url")
        if host is None
        else (F.col(host) if isinstance(host, str) else host)
    )
    hcol = h.alias("_host")
    rank_h = md5_h64(
        F.concat(F.lit(f"hostcap-{seed}-"), F.col(id_col).cast("string"))
    )
    over = (
        docs.select(hcol)
        .groupBy("_host")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > int(cap))
        .select("_host")
    )
    with_host = docs.withColumn("_host", h)
    under_docs = with_host.join(over, "_host", "left_anti").drop("_host")
    over_docs = with_host.join(over, "_host", "left_semi")
    cand = over_docs.select(
        F.col(id_col).alias("_id"), "_host", rank_h.alias("_h")
    )
    if precut:

        def local_topcap(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            acc: pd.DataFrame | None = None
            for pdf in batches:
                acc = pdf if acc is None else pd.concat([acc, pdf])
                # trim between batches so partition state stays
                # ≤ hosts_in_partition × cap rows
                acc = (
                    acc.sort_values(["_host", "_h", "_id"])
                    .groupby("_host", sort=False)
                    .head(int(cap))
                )
            if acc is not None:
                yield acc

        cand = cand.mapInPandas(
            local_topcap, f"_id {dict(docs.dtypes)[id_col]}, _host string, _h long"
        )
    w = Window.partitionBy("_host").orderBy(F.asc("_h"), F.asc("_id"))
    keep_ids = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(cap))
        .select(F.col("_id").alias(id_col))
    )
    kept_over = over_docs.drop("_host").join(keep_ids, id_col, "left_semi")
    return under_docs.unionByName(kept_over)


def host_of(url: Column | str = "url") -> Column:
    """Lowercased host from a URL column (``parse_url`` stays JVM-side;
    lowering because hosts are case-insensitive and C4-style domain
    lists key on the canonical form). The natural ``domain`` argument
    for :func:`domain_stats` over a CC-shaped ``(url, ...)`` corpus."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.parse_url(c, F.lit("HOST")))


# --- URL canonicalization (dedup-by-url support) ---------------------------

# query params that track campaigns, not content — dropped before the
# url is used as a dedup/upsert key (matches a bare name or name=value)
URL_TRACKING_RE = r"^(utm_[^=&]*|fbclid|gclid|msclkid|mc_cid|mc_eid)(=|$)"
_URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_URL_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([/][^?#]*)?"
# only a '?' BEFORE any '#' starts the query — a '?' inside the
# fragment must not resurrect a query string from the dropped fragment
_URL_QUERY_RE = r"^[^#]*?\?([^#]*)"


def canonical_url(url: Column | str = "url") -> Column:
    """Canonical form of a URL for url-keyed dedup / upsert compaction:
    scheme + host lowercased, default port (:80 http / :443 https) and
    fragment dropped, tracking query params (:data:`URL_TRACKING_RE`)
    removed and the survivors sorted, a bare "/" path dropped. Path
    case and non-tracking param VALUES are untouched — they are
    content-significant. Strings without a ``scheme://host`` shape pass
    through trimmed (never NULLed — a bad url must not merge with
    other bad urls under one NULL key).

    Pure Catalyst (regex extract/replace + array ops inside codegen,
    zero shuffles); patterns stay in the RE2-compatible subset so the
    DuckDB oracle replays them byte-for-byte.
    """
    s = F.trim(F.col(url) if isinstance(url, str) else url)
    scheme = F.lower(F.regexp_extract(s, _URL_SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(s, _URL_HOSTPORT_RE, 1))
    host = F.when(
        scheme == "http", F.regexp_replace(hostport, ":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(hostport, ":443$", "")
    ).otherwise(hostport)
    path = F.regexp_extract(s, _URL_PATH_RE, 1)
    path = F.when(path == "/", F.lit("")).otherwise(path)
    query = F.regexp_extract(s, _URL_QUERY_RE, 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(URL_TRACKING_RE),
        )
    )
    qstr = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        scheme == "", s
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, qstr))


def canonicalize_urls(docs: DataFrame, url: str = "url", out: str = "canon_url") -> DataFrame:
    """Add the canonical-url column (per-row map work — the key prep
    stage before url-keyed exact dedup or ``compact_incremental
    (latest_only=True)`` upsert)."""
    return docs.withColumn(out, canonical_url(url))


# RE2-compatible subset (no backreferences, no lookaround) so Spark's
# Java regex and the DuckDB oracle's RE2 agree byte-for-byte.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{2,3}-\d{3,4}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(docs: DataFrame, text: str = "text") -> DataFrame:
    """Count and redact the three standard PII shapes (emails, dashed
    phone numbers, IPv4 addresses) — the scrub pass a training-data
    pipeline runs before anything leaves curation.

    Replacements apply in a fixed order (email → ipv4 → phone), and
    each category is COUNTED on the text state its replacement actually
    sees — so every count equals the number of placeholders emitted,
    even when the shapes overlap (an IP glued to a phone-shaped digit
    run, an email whose local part looks like an IP): whatever an
    earlier pass consumed is neither counted nor claimed by a later
    one. Pure ``regexp_count`` / ``regexp_replace`` — per-doc map
    work, zero shuffles, codegen-friendly.
    """
    c = F.col(text)
    after_email = F.regexp_replace(c, EMAIL_RE, "[EMAIL]")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "[IP]")
    return docs.select(
        "doc_id",
        F.regexp_count(c, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(after_ip, F.lit(PHONE_RE)).alias("n_phones"),
        F.regexp_count(after_email, F.lit(IPV4_RE)).alias("n_ips"),
        F.regexp_replace(after_ip, PHONE_RE, "[PHONE]").alias("redacted"),
    )


def _redact(c: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "[EMAIL]"), IPV4_RE, "[IP]"
        ),
        PHONE_RE,
        "[PHONE]",
    )


def scrub_pii(docs: DataFrame, text: str = "text") -> DataFrame:
    """In-place PII scrub: all input columns preserved, ``text``
    replaced by its redacted form (the pipeline-stage sibling of
    :func:`pii_redact`'s reporting shape)."""
    return docs.withColumn(text, _redact(F.col(text)))


def span_dedup(
    docs: DataFrame, text: str = "text", window: int = 10
) -> DataFrame:
    """C4-style cross-document span deduplication (Raffel et al. 2020,
    §2.2 "three-sentence span" rule, token-window form): chunk every
    doc into consecutive ``window``-token spans, hash each span, keep
    only the globally FIRST occurrence of every span (min (doc_id,
    span_idx)), and reassemble each doc from its surviving spans.
    Boilerplate paragraphs repeated across a crawl vanish from all but
    one page; a fully-duplicated page loses its entire text.

    Shape: posexplode → one hash aggregation keyed on the span hash
    (``min(struct(doc_id, span_idx))`` — map-side combine makes hot
    boilerplate spans skew-safe: each input partition contributes ONE
    candidate row per span hash, unlike a window/row_number which sorts
    the whole hot partition on one task) → hash join spans⋈winners on
    the same key (both sides arrive hash-partitioned on it, so the
    exchange is reused) → per-doc reassembly via sorted struct collect.
    Output: (doc_id, clean_text, n_spans_kept, n_spans_removed); empty
    docs keep a row with empty clean_text.
    """
    if window < 1:
        raise ValueError(f"span window must be >= 1, got {window}")
    toks = whitespace_tokens(text)
    n = F.size(toks)
    spans_arr = F.when(
        n > 0,
        F.transform(
            F.sequence(
                F.lit(0), F.floor((n - 1) / window).cast("int")
            ),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i * window + 1, window)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select("doc_id", spans_arr.alias("spans"))
    keyed = base.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).withColumn("h", F.md5("span"))
    winners = keyed.groupBy("h").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("w")
    )
    kept = (
        keyed.join(winners, "h")
        .filter(
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("span_idx") == F.col("w.span_idx"))
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_idx", "span"))
            ).alias("ss")
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.transform("ss", lambda s: s.span)
            ).alias("clean_text"),
            F.size("ss").cast("long").alias("n_spans_kept"),
        )
    )
    return (
        base.select("doc_id", F.size("spans").cast("long").alias("_total"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_spans_kept", F.lit(0)).alias("n_spans_kept"),
            (F.col("_total") - F.coalesce("n_spans_kept", F.lit(0))).alias(
                "n_spans_removed"
            ),
        )
    )


def contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    text: str = "text",
    n: int = 8,
    min_common: int = 1,
    hash_impl: str = "md5",
) -> DataFrame:
    """Eval-set contamination report: one row ``(doc_id, n_matched)``
    per training doc sharing ≥ ``min_common`` distinct word ``n``-gram
    shingles with ANY eval document — the benchmark-decontamination
    pass every pre-training pipeline runs (the GPT-3 paper's 13-gram
    rule is this operator with n=13).

    Shingles are the compositional 31-bit hash folds from
    :func:`..dedup.shingle_hashes` (one token hash per token, zero
    shingle-string construction). The eval side — benchmarks are tiny
    next to a crawl — reduces to a DISTINCT shingle-hash relation that
    is explicitly ``broadcast()``: the corpus-side probe is then a
    map-side hash semi-join with NO shuffle of the 100 TB side; the
    only exchange is the per-doc match-count aggregation, which carries
    just matched (doc_id, count) partials.
    """
    from .dedup import shingle_hashes, token_hashes

    def doc_shingles(df: DataFrame) -> DataFrame:
        th = df.select("doc_id", token_hashes(text, hash_impl).alias("th"))
        return th.select(
            "doc_id",
            F.explode(
                F.array_distinct(shingle_hashes(F.col("th"), n))
            ).alias("shingle"),
        )

    eval_sh = doc_shingles(eval_docs).select("shingle").distinct()
    return (
        doc_shingles(docs)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .filter(F.col("n_matched") >= min_common)
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text: str = "text",
    n: int = 8,
    min_common: int = 1,
    hash_impl: str = "md5",
) -> DataFrame:
    """Drop contaminated docs: ``docs`` anti-joined against
    :func:`contamination` (all input columns preserved)."""
    hits = contamination(
        docs, eval_docs, text=text, n=n, min_common=min_common,
        hash_impl=hash_impl,
    )
    return docs.join(hits, "doc_id", "left_anti")


def pack_manifest(
    docs: DataFrame,
    text: str = "text",
    seq_len: int = 2048,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sequence-packing manifest for training-data prep: concatenate
    the corpus token stream in ``doc_id`` order and chop it into
    fixed-``seq_len`` training sequences (the GPT-style packing rule —
    documents straddle sequence boundaries). Emits one row per doc:
    ``(doc_id, n_tokens, token_start, seq_first, seq_last)`` where
    ``token_start`` is the doc's global offset in the stream and
    ``seq_first``/``seq_last`` the sequence ids it lands in (NULL for
    empty docs) — exactly what a training loader needs to materialize
    any sequence id without re-scanning the corpus.

    The global running sum SHARES ``index.docids.
    range_partition_offsets`` with the docID assigner (one home for
    the subtle persist/range-boundary invariant; its docstring
    explains why a global ``row_number``/window is NOT scalable — it
    collapses to one partition): range-partition by doc_id (one sorted
    shuffle), per-partition token sums → driver cumsum (one row per
    partition), then a per-partition vectorized running sum in
    ``mapInPandas`` — partition-count-invariant by construction, no
    second exchange.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    from collections.abc import Iterator

    import numpy as np
    import pyspark.sql.types as T

    from ..index.docids import range_partition_offsets

    toks = whitespace_tokens(text)
    n = F.size(F.coalesce(toks, F.array().cast("array<string>")))
    d = docs.select("doc_id", n.cast("long").alias("n_tokens"))
    parts, offsets, _ = range_partition_offsets(
        d, "doc_id", weight="n_tokens", num_partitions=num_partitions
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("n_tokens", T.LongType(), False),
            T.StructField("token_start", T.LongType(), False),
        ]
    )

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        run = 0
        base = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if base is None:
                base = offsets[int(pdf["_pid"].iloc[0])]
            nt = pdf["n_tokens"].to_numpy()
            starts = base + run + np.concatenate(([0], np.cumsum(nt[:-1])))
            run += int(nt.sum())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pdf["n_tokens"],
                    "token_start": pd.Series(starts, index=pdf.index, dtype="int64"),
                }
            )

    out = parts.mapInPandas(tag, schema)
    return out.select(
        "doc_id",
        "n_tokens",
        "token_start",
        F.when(
            F.col("n_tokens") > 0, F.floor(F.col("token_start") / seq_len)
        ).alias("seq_first"),
        F.when(
            F.col("n_tokens") > 0,
            F.floor((F.col("token_start") + F.col("n_tokens") - 1) / seq_len),
        ).alias("seq_last"),
    )


def unigram_logprob(
    docs: DataFrame, text: str = "text", min_count: int = 5
) -> DataFrame:
    """Perplexity-proxy quality score (the CCNet/Gopher "LM filter"
    stage, with an honest in-engine unigram LM standing in for KenLM —
    no external model ships in this container): per-doc mean token
    log-probability under the corpus's own unigram distribution.
    Boilerplate scores high (common tokens), gibberish scores low;
    a threshold band on ``avg_logprob`` is the filter.

    Tokens rarer than ``min_count`` fall out of the vocabulary and
    score at the OOV floor ``ln(1/total)`` — exactly how a finite-vocab
    LM treats them. The vocab side is corpus-derived and therefore
    unbounded (min_count pruning helps but does not cap it — a 10^12-doc
    crawl's vocabulary is billions of terms even pruned), so it is NOT
    force-broadcast: the token→vocab lookup is a plain equi-join on
    term, which AQE turns into a broadcast join only when the pruned
    vocab actually fits, and a shuffle hash join otherwise. Exchanges:
    the vocab count aggregation, the term-keyed lookup join, and the
    per-doc mean (all map-side-combined). Docs with zero tokens emit no
    row (an LM score over nothing is undefined; filter them on length
    first).
    """
    toks = whitespace_tokens(text)
    toks_tbl = docs.select("doc_id", F.explode(toks).alias("term"))
    counts = toks_tbl.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # total token count WITHOUT the term shuffle: a per-doc size sum is
    # one map pass + a scalar agg (running it through `counts` would
    # execute the corpus-wide explode+groupBy twice — once eagerly
    # here, once uncached inside the returned plan's broadcast subtree)
    total = (
        docs.select(
            F.sum(
                F.size(F.coalesce(toks, F.array().cast("array<string>")))
            ).alias("s")
        ).collect()[0]["s"]
        or 0
    )
    if total == 0:
        spark = docs.sparkSession
        return spark.createDataFrame(
            [], "doc_id long, n_tokens long, avg_logprob double"
        )
    vocab = counts.filter(F.col("c") >= min_count).select(
        "term", F.log(F.col("c") / F.lit(float(total))).alias("lp")
    )
    oov = F.lit(-math.log(total))
    return (
        toks_tbl.join(vocab, "term", "left")
        .select("doc_id", F.coalesce("lp", oov).alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )


def normalize_text(
    docs: DataFrame, text: str = "text", form: str = "NFC"
) -> DataFrame:
    """Unicode normalization of the text column (default NFC) — the
    pre-hash canonicalization a web corpus needs: crawled pages mix
    composed and decomposed encodings (é vs e+U+0301), so without this
    pass visually-identical pages fingerprint differently and every
    hash-keyed dedup silently under-merges. Run it at ingestion, before
    :func:`..dedup.exact_duplicates` / fingerprinting.

    Catalyst has no normalizer expression, so this is the one curation
    operator on the Arrow path: a ``pandas_udf`` batch-normalizing via
    ``Series.str.normalize`` (vectorized C-level loop per Arrow batch,
    never per-row Python). Zero shuffles; NULL text passes through as
    NULL. The DuckDB oracle is ``nfc_normalize`` (utf8proc) — parity
    with Python's ``unicodedata`` verified for composed/decomposed and
    ligature inputs in the tests.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    return docs.withColumn(text, _norm(F.col(text)))


#: Gopher quality-rule stopwords (Rae et al. 2021, §A.1.1 — the
#: published "must contain at least 2" list)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: letter classes for the alpha-ratio rule: Rae et al.'s battery is
#: English ([A-Za-z]); a Korean/multilingual corpus must use the
#: Unicode letter class or every pure-Korean doc fails the rule
GOPHER_LETTERS_EN = "[A-Za-z]"
GOPHER_LETTERS_UNICODE = r"\p{L}"  # Java regex: any Unicode letter

#: Korean analog of the stopword-presence rule: high-frequency Korean
#: function/formal words that appear as standalone whitespace tokens
#: (josa attach to their hosts, so the English "the/of/and" trick
#: needs bound nouns + conjunctions instead)
GOPHER_STOPWORDS_KO = ["수", "것", "등", "및", "그", "이", "있다", "있는", "하는", "그리고"]

#: Gopher rule thresholds (published constants)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_RATIO = 0.9
GOPHER_MAX_ELLIPSIS_RATIO = 0.3
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(
    docs: DataFrame,
    text: str = "text",
    letter_pattern: str = GOPHER_LETTERS_EN,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021 — the filter battery
    most LLM corpora start from), each as a NAMED boolean flag plus
    the conjunctive ``gopher_pass``:

    * ``rule_word_count`` — 50 ≤ words ≤ 100 000
    * ``rule_mean_word_len`` — mean word length in [3, 10]
    * ``rule_symbol_ratio`` — words containing ``#`` or ``…``/``...``
      are < 10 % of words
    * ``rule_bullet_ratio`` — ≤ 90 % of lines start with a bullet
      (``•``/``-``/``*``)
    * ``rule_ellipsis_ratio`` — ≤ 30 % of lines end with an ellipsis
    * ``rule_alpha_ratio`` — ≥ 80 % of words contain a letter
      (``letter_pattern``)
    * ``rule_stopwords`` — ≥ 2 distinct ``stopwords`` present

    The published battery is ENGLISH: the default ``letter_pattern``
    ``[A-Za-z]`` and stopword list ("the", "of", ...) fail every
    pure-Korean document. For a Korean (or mixed) slice pass
    ``letter_pattern=GOPHER_LETTERS_UNICODE`` (any Unicode letter) and
    ``stopwords=GOPHER_STOPWORDS_KO`` — or ``stopwords=[]`` to disable
    the stopword rule entirely (it then passes vacuously). The
    defaults stay faithful to Rae et al. so English-corpus ablations
    reproduce the paper.

    Named flags (not one opaque score — that is
    :func:`..text.quality_features`'s job) so a pipeline can report
    WHICH rule killed each doc, the per-rule ablation every corpus
    paper publishes. Pure Catalyst array expressions over one
    projection — zero shuffles, zero Python; docs with no words fail
    the word-count rule and every ratio guards /0 with a NULL-safe
    fallback."""
    if stopwords is None:
        stopwords = GOPHER_STOPWORDS
    words = whitespace_tokens(text)
    lines = F.filter(
        F.split(F.col(text), "\n"), lambda x: F.trim(x) != F.lit("")
    )
    n_words = F.size(words).cast("double")
    n_lines = F.size(lines).cast("double")
    sum_word_len = F.aggregate(
        words, F.lit(0), lambda acc, x: acc + F.length(x)
    ).cast("double")
    mean_wl = sum_word_len / n_words
    n_symbol = F.size(
        F.filter(
            words,
            lambda x: x.contains("#")
            | x.contains("...")
            | x.contains("…"),
        )
    ).cast("double")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda x: F.trim(x).startswith("•")
            | F.trim(x).startswith("-")
            | F.trim(x).startswith("*"),
        )
    ).cast("double")
    n_ellipsis = F.size(
        F.filter(
            lines,
            lambda x: F.trim(x).endswith("...")
            | F.trim(x).endswith("…"),
        )
    ).cast("double")
    n_alpha = F.size(
        F.filter(words, lambda x: x.rlike(letter_pattern))
    ).cast("double")
    n_stop = F.size(
        F.array_intersect(
            words, F.array(*[F.lit(s) for s in stopwords])
        )
    )
    r_wc = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_mwl = (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN) & (
        mean_wl <= GOPHER_MAX_MEAN_WORD_LEN
    )
    r_sym = (n_symbol / n_words) < GOPHER_MAX_SYMBOL_RATIO
    # line ratios pass vacuously when the doc has no non-empty lines
    r_bullet = F.when(n_lines > 0, (n_bullet / n_lines) <= GOPHER_MAX_BULLET_RATIO).otherwise(F.lit(True))
    r_ellipsis = F.when(n_lines > 0, (n_ellipsis / n_lines) <= GOPHER_MAX_ELLIPSIS_RATIO).otherwise(F.lit(True))
    r_alpha = (n_alpha / n_words) >= GOPHER_MIN_ALPHA_RATIO
    # empty stopword list disables the rule (vacuous pass), not a
    # guaranteed fail via `0 >= 2`
    r_stop = (
        n_stop >= GOPHER_MIN_STOPWORDS if stopwords else F.lit(True)
    )
    flags = {
        "rule_word_count": r_wc,
        "rule_mean_word_len": F.coalesce(r_mwl, F.lit(False)),
        "rule_symbol_ratio": F.coalesce(r_sym, F.lit(False)),
        "rule_bullet_ratio": r_bullet,
        "rule_ellipsis_ratio": r_ellipsis,
        "rule_alpha_ratio": F.coalesce(r_alpha, F.lit(False)),
        "rule_stopwords": r_stop,
    }
    out = docs.select(
        "doc_id", *[c.alias(n) for n, c in flags.items()]
    )
    gp = None
    for n in flags:
        gp = F.col(n) if gp is None else (gp & F.col(n))
    return out.withColumn("gopher_pass", gp)


def bigram_logprob(
    docs: DataFrame, text: str = "text", min_doc_tokens: int = 2
) -> DataFrame:
    """Bigram-LM perplexity proxy — the second rung of the CCNet/
    Gopher LM-filter ladder above :func:`unigram_logprob`: per-doc
    mean ``ln P(w_i | w_{i-1})`` under the corpus's own bigram
    distribution with add-one smoothing,

        P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)

    (V = unigram vocabulary size). Repetitive boilerplate scores high,
    shuffled-word salad scores LOW even when its unigrams are common —
    exactly the gibberish the unigram filter cannot see. Docs with
    fewer than 2 tokens emit no row (no bigrams to score).

    Plan: bigrams are built per-row with ``zip_with`` over two array
    slices (no positional self-join); corpus bigram counts are one
    hash aggregate; the per-doc score joins the exploded bigrams with
    the counts on the bigram key (both sides key-partitioned — at
    crawl scale the bigram table cannot broadcast) and the unigram
    context counts via a plain term-keyed equi-join (the unigram table
    is corpus vocabulary — unbounded like the bigram table, so it is
    never force-broadcast; AQE broadcasts it only when it actually
    fits), then one per-doc aggregate. V rides the unigram count as a
    single driver scalar."""
    words = whitespace_tokens(text)
    base = docs.select("doc_id", words.alias("w")).filter(
        F.size("w") >= int(min_doc_tokens)
    )
    n = F.size("w")
    bigrams = F.zip_with(
        F.slice("w", 1, n - 1),
        F.slice("w", 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    doc_bi = base.select("doc_id", F.explode(bigrams).alias("bigram"))
    bi_counts = doc_bi.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("cb")
    )
    uni = (
        docs.select(F.explode(words).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    v_size = uni.count()
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    lp = F.log(
        (F.col("cb").cast("double") + 1.0)
        / (F.col("cu").cast("double") + F.lit(float(v_size)))
    )
    return (
        doc_bi.join(bi_counts, "bigram")
        .withColumn("term", w1)
        .join(uni, "term")
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )


def _hashed_ngram_buckets(text: str, dim: int, hash_impl: str = "md5") -> Column:
    """Per-row array of hashed word-feature buckets: unigrams + word
    bigrams (the DSIR feature space), each ``h64 % dim``. Pure
    Catalyst array expressions — no explode until the caller needs
    one, no Python."""
    from .hashing import h64

    words = whitespace_tokens(text)
    n = F.size(words)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(words, bigrams)
    return F.transform(
        feats, lambda x: F.pmod(h64(x, hash_impl), F.lit(int(dim)))
    )


def dsir_logratio(
    docs: DataFrame,
    target_docs: DataFrame,
    text: str = "text",
    dim: int = 4096,
    hash_impl: str = "md5",
) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per-doc log importance
    weight ``Σ_f [ln p_target(f) − ln p_raw(f)]`` over hashed unigram+
    bigram word features, with add-one smoothing over the ``dim``
    hashed buckets::

        p(b) = (count(b) + 1) / (total + dim)

    Docs resembling the TARGET domain (the corpus you want more of —
    a wiki/books sample, a language slice) score high; generic crawl
    boilerplate scores low. ``(doc_id, n_feats, logratio)``; docs with
    no tokens emit no row. Feed the scores to
    :func:`dsir_gumbel_topk` for the paper's sampling-without-
    replacement step.

    Plan at crawl scale: both LMs are ``dim``-bounded bucket-count
    aggregates (map-side combined; output ≤ dim rows each), the
    per-bucket log-prob table BROADCASTS (≤ dim rows regardless of
    corpus size), and the only big-relation work is one feature
    explode + one per-doc aggregate. The target corpus is the small
    curated sample by construction. Totals ride the count tables as
    two driver scalars."""
    fb = docs.select(
        "doc_id",
        F.explode(_hashed_ngram_buckets(text, dim, hash_impl)).alias(
            "bucket"
        ),
    )
    tb = target_docs.select(
        F.explode(_hashed_ngram_buckets(text, dim, hash_impl)).alias(
            "bucket"
        )
    )
    # dim-bounded count tables: persist so the totals fetch and the
    # probs join share one aggregation pass each (the corpus-side
    # feature explode still runs once more for the scoring join —
    # the same two-pass shape unigram_logprob documents)
    cr = fb.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr")).persist()
    ct = tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("ct")).persist()
    tr = cr.agg(F.sum("cr")).first()[0] or 0
    tt = ct.agg(F.sum("ct")).first()[0] or 0
    # identical IEEE expression order on both engines: difference of
    # the two smoothed log-probs, NOT ln of the ratio
    lp = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)).cast("double") + 1.0)
        / F.lit(float(tt + dim))
    ) - F.log((F.col("cr").cast("double") + 1.0) / F.lit(float(tr + dim)))
    probs = (
        cr.join(ct, "bucket", "left")
        .select("bucket", lp.alias("lp"))
    )
    return (
        fb.join(F.broadcast(probs), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("lp").alias("logratio"),
        )
    )


def nb_quality_scores(
    docs: DataFrame,
    labels: DataFrame,
    text: str = "text",
    dim: int = 2048,
    alpha: float = 1.0,
    hash_impl: str = "md5",
) -> DataFrame:
    """Supervised quality-classifier scores — the labeled cousin of
    :func:`dsir_logratio` and the in-engine stand-in for the
    fasttext-style filter the GPT-3/CCNet pipelines train (positives =
    a curated corpus, negatives = raw crawl): per-doc multinomial
    Naive-Bayes log-odds over hashed unigram+bigram word features::

        nb_score = ln(n_pos/n_neg)                      (doc prior)
                 + Σ_f [ ln((c⁺(b)+α)/(T⁺+α·dim))
                       − ln((c⁻(b)+α)/(T⁻+α·dim)) ]     (per feature)

    ``labels`` is ``(doc_id, label boolean)`` — the training seed
    (keep it a SAMPLE at crawl scale; the classifier exists so you
    don't label the corpus). Positive scores read "looks like the
    positive class"; threshold or rank for the keep decision. Returns
    ``(doc_id, n_feats, nb_score)`` for EVERY doc in ``docs`` with at
    least one token (docs with no tokens emit no row); scoring uses
    only the model, so unlabeled docs score fine.

    Naive Bayes rather than logistic regression deliberately: the
    closed form is two aggregations — no iterations, no learning rate
    — and every number is exactly replicable in an oracle SQL, which
    is the contract this engine holds all its operators to.

    Plan at crawl scale: the per-class bucket-count tables are
    ``dim``-bounded (map-side combined, ≤ dim rows each) and the
    weight table BROADCASTS legitimately (fixed dim, never
    corpus-proportional — the same justification as DSIR); the big
    relations see one feature explode + one per-doc aggregate. The
    labeled slice is one semi-join of the seed ids against docs.
    Buckets unseen in training fall back to the closed-form OOV
    weight via ``coalesce`` (no lost rows)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    lab = labels.select(
        "doc_id", F.col("label").cast("boolean").alias("_lab")
    )
    fb = docs.select(
        "doc_id",
        F.explode(_hashed_ngram_buckets(text, dim, hash_impl)).alias(
            "bucket"
        ),
    )
    tb = fb.join(lab, "doc_id")
    counts = (
        tb.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_lab"), 1).otherwise(0)).alias("cp"),
            F.sum(F.when(F.col("_lab"), 0).otherwise(1)).alias("cn"),
        )
        .persist()
    )
    tot = counts.agg(
        F.sum("cp").alias("tp"), F.sum("cn").alias("tn")
    ).first()
    tp, tn = float(tot["tp"] or 0), float(tot["tn"] or 0)
    nd = lab.groupBy("_lab").agg(F.count(F.lit(1)).alias("n")).collect()
    n_docs = {bool(r["_lab"]): r["n"] for r in nd}
    if not n_docs.get(True) or not n_docs.get(False):
        raise ValueError(
            "labels must contain BOTH classes (got "
            f"{n_docs.get(True, 0)} positive / {n_docs.get(False, 0)} "
            "negative docs)"
        )
    bias = math.log(n_docs[True]) - math.log(n_docs[False])
    a, ad = float(alpha), float(alpha) * dim
    # identical IEEE expression order on both engines: difference of
    # two smoothed log-probs (the dsir_logratio discipline)
    w = F.log(
        (F.col("cp").cast("double") + a) / F.lit(tp + ad)
    ) - F.log((F.col("cn").cast("double") + a) / F.lit(tn + ad))
    oov = math.log(a / (tp + ad)) - math.log(a / (tn + ad))
    weights = counts.select("bucket", w.alias("w"))
    return (
        fb.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            (
                F.lit(bias)
                + F.sum(F.coalesce(F.col("w"), F.lit(oov)))
            ).alias("nb_score"),
        )
    )


#: Gumbel uniform denominator: md5_h64 is 60-bit
_H60 = float(1 << 60)


def dsir_gumbel_topk(
    scores: DataFrame,
    k: int,
    seed: int = 0,
    score_col: str = "logratio",
) -> DataFrame:
    """DSIR's sampling step: top-``k`` by Gumbel-perturbed log weight
    — EXACTLY sampling-without-replacement proportional to the
    importance weights (the Gumbel-top-k trick), made deterministic /
    retry-stable by deriving each doc's Gumbel noise from
    ``md5(seed|doc_id)`` instead of an RNG::

        u = (h + 0.5) / 2^60          (u ∈ (0,1), never 0 or 1)
        g = −ln(−ln u)                 (standard Gumbel)
        keep the k largest  score + g

    ``(doc_id, sample_key)``, ranked key desc / doc_id asc. The same
    doc set is selected on any partitioning, any retry, and any
    engine — the property every other sampler in this repo pins
    (``stratified_sample``, ``weighted_sample``)."""
    from .hashing import md5_h64

    u = (
        md5_h64(F.concat_ws("|", F.lit(str(seed)), F.col("doc_id")))
        .cast("double")
        + 0.5
    ) / F.lit(_H60)
    g = -F.log(-F.log(u))
    return (
        scores.select(
            "doc_id", (F.col(score_col) + g).alias("sample_key")
        )
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(int(k))
    )
