"""Query expansion over the built index: more-like-this and
data-driven related terms.

The reference expands queries from curated synonym dictionaries
(``SynonymDictionary.java``, served through the A19 appender and the
Q2 synonym-OR subquery). A crawl-scale engine also wants the
*data-driven* counterparts, both standard Lucene/ES machinery:

* **More-like-this** (Lucene ``MoreLikeThis``): pick a seed document's
  most characteristic terms by tf·idf and run them as a BM25 OR query,
  excluding the seed — "find pages like this page".
* **Related terms** (PMI co-occurrence mining): terms that co-occur
  with a seed term across documents far more often than chance —
  candidate synonyms/expansions mined from the corpus itself, the
  usual bootstrap for the curated dictionary the reference assumes.

Both are single declarative plans over the index tables; the only
driver-side materialization is the m-term seed list in
:func:`mlt_topk` (bounded by ``m_terms``, the same bounded-metadata
pattern as the hot-term list in ``index/blocks.py``) — it buys the
IN-list predicate pushdown on the postings scan that
``query/bm25.py::bm25_scored`` is built around.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..index.build import InvertedIndex
from .bm25 import bm25_scored, idf_col

__all__ = [
    "mlt_topk",
    "mlt_seed_terms",
    "related_terms",
    "suggest_terms",
    "prefix_expand_terms",
    "prefix_topk",
    "fuzzy_expand_terms",
    "fuzzy_topk",
    "regexp_expand_terms",
    "regexp_topk",
    "phrase_suggest",
]


def mlt_seed_terms(
    index: InvertedIndex,
    seed_doc_id: int,
    m_terms: int = 10,
    seed_postings: DataFrame | None = None,
) -> list[str]:
    """The seed doc's top ``m_terms`` terms by tf·idf (Lucene
    ``MoreLikeThis.retrieveInterestingTerms`` semantics; its default
    ``maxQueryTerms`` is 25). Deterministic tie-break: tf·idf desc,
    term asc. The collect is ≤ ``m_terms`` rows.

    Seed fetch, in priority order:

    1. ``seed_postings`` — a caller-supplied ``(term, tf)`` relation
       for the seed doc (e.g. a doc_id-pruned re-analysis of the
       source document);
    2. ``index.forward`` — the doc-keyed forward projection written by
       ``build_and_write(with_forward=True)``: a doc_id equality
       filter on a range-partitioned, doc-sorted table prunes to ONE
       row group (the Lucene term-vectors path);
    3. fallback: ``doc_id`` filter on the term-keyed postings — kept
       for indexes built without a forward table, but NOT a scale
       path: docIDs spread across every term's row groups, so min/max
       stats prune nothing and the filter reads the whole relation.
    """
    corpus = index.corpus_stats.first()
    n_docs = corpus["n_docs"]
    if seed_postings is not None:
        seed = seed_postings.select("term", "tf")
    elif index.forward is not None:
        seed = (
            index.forward.filter(F.col("doc_id") == seed_doc_id)
            .select(F.explode("terms").alias("t"))
            .select(F.col("t.term").alias("term"), F.col("t.tf").alias("tf"))
        )
    else:
        seed = index.postings.filter(
            F.col("doc_id") == seed_doc_id
        ).select("term", "tf")
    ranked = (
        seed.join(index.term_stats.select("term", "df"), "term")
        .withColumn(
            "tfidf",
            F.col("tf") * idf_col(n_docs, F.col("df")),
        )
        .orderBy(F.desc("tfidf"), F.asc("term"))
        .limit(int(m_terms))
    )
    return [r["term"] for r in ranked.collect()]


def mlt_topk(
    index: InvertedIndex,
    seed_doc_id: int,
    m_terms: int = 10,
    k: int = 10,
) -> DataFrame:
    """More-like-this: BM25 top-k ``(doc_id, score)`` for the seed
    doc's tf·idf-top ``m_terms`` terms, seed excluded. Rank tie-break:
    score desc, doc_id asc."""
    terms = mlt_seed_terms(index, seed_doc_id, m_terms)
    return (
        bm25_scored(index, terms)
        .filter(F.col("doc_id") != seed_doc_id)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def suggest_terms(
    index: InvertedIndex,
    term: str,
    k: int = 10,
    max_edits: int = 2,
    min_df: int = 1,
) -> DataFrame:
    """Did-you-mean term suggestions (Lucene/ES ``term`` suggester,
    ``DirectSpellChecker`` semantics): vocabulary terms within
    ``max_edits`` Levenshtein edits of ``term``, ranked edit distance
    asc, then df desc (popular corrections first), then term asc —
    ``(term, df, dist)``, ``k`` rows. The input term itself is
    excluded (it needs no correction); ``min_df`` drops
    typo-vocabulary suggestions.

    Plan: one pass over ``term_stats`` (the vocabulary — tiny next to
    postings) with a cheap *length-band* prefilter
    ``|len(t) − len(term)| ≤ max_edits`` (a necessary condition for
    edit distance, pushed to the scan) before the O(|t|·|term|)
    Levenshtein, then TakeOrdered. Zero exchanges beyond the top-k
    gather; at 10^12 docs the vocabulary is the only input and it is
    orders of magnitude smaller.

    All ranking keys are integers/strings — no float tie-break
    anywhere, so ranks are bit-deterministic across engines.
    """
    lit = F.lit(term)
    return (
        index.term_stats.select("term", "df")
        .filter(
            (F.col("term") != lit)
            & (F.col("df") >= int(min_df))
            & (
                F.abs(F.length("term") - F.length(lit))
                <= int(max_edits)
            )
        )
        .withColumn("dist", F.levenshtein(F.col("term"), lit))
        .filter(F.col("dist") <= int(max_edits))
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(int(k))
    )


def prefix_expand_terms(
    term_stats: DataFrame, prefix: str, max_expansions: int = 50
) -> list[str]:
    """Lucene ``PrefixQuery`` term expansion: vocabulary terms starting
    with ``prefix``, capped at ``max_expansions`` by df desc (the
    ES/Lucene top-terms rewrite keeps the most frequent matches when
    the expansion budget bites), tie-break term asc. One pushed
    ``StartsWith`` filter over the vocabulary (``term_stats`` — orders
    of magnitude smaller than postings at 10^12 docs) + TakeOrdered;
    the collect is ≤ ``max_expansions`` rows, the same
    bounded-metadata pattern as :func:`mlt_seed_terms`."""
    ranked = (
        term_stats.select("term", "df")
        .filter(F.col("term").startswith(prefix))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(int(max_expansions))
    )
    return [r["term"] for r in ranked.collect()]


def prefix_topk(
    index: InvertedIndex,
    prefix: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """Prefix retrieval (Lucene ``PrefixQuery``): expand against the
    vocabulary, then score the expansion set as a disjunctive BM25 OR
    — per doc, the SUM of its matching expansion terms' partials (the
    engine's documented multi-term scoring; Lucene's default
    constant-score rewrite deliberately flattens scores, but a
    training-data pipeline wants ranked relevance, so the scoring
    rewrite is the useful contract). ``(doc_id, score)``, tie-break
    score desc / doc_id asc."""
    spark = index.postings.sparkSession
    terms = prefix_expand_terms(index.term_stats, prefix, max_expansions)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return (
        bm25_scored(index, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def fuzzy_expand_terms(
    term_stats: DataFrame,
    term: str,
    max_edits: int = 2,
    prefix_length: int = 0,
    max_expansions: int = 50,
) -> DataFrame:
    """Lucene ``FuzzyQuery`` term expansion: vocabulary terms within
    ``max_edits`` Levenshtein edits of ``term`` — the queried term
    itself included at distance 0, unlike :func:`suggest_terms` (a
    fuzzy MATCH must keep exact hits; a SUGGESTER corrects away from
    them). ``prefix_length`` pins the first characters exactly
    (FuzzyQuery's cheap-prefix parameter — at web scale it turns the
    vocabulary scan into a range probe). Ranked dist asc, df desc,
    term asc; capped at ``max_expansions`` (FuzzyQuery's top-terms
    rewrite budget, default 50 in Lucene). Returns
    ``(term, df, dist)`` — same plan shape as :func:`suggest_terms`:
    length-band prefilter before the O(|s|·|t|) Levenshtein, integer/
    string ranking keys only."""
    lit = F.lit(term)
    cand = term_stats.select("term", "df").filter(
        F.abs(F.length("term") - F.length(lit)) <= int(max_edits)
    )
    if prefix_length > 0:
        cand = cand.filter(F.col("term").startswith(term[:prefix_length]))
    return (
        cand.withColumn("dist", F.levenshtein(F.col("term"), lit))
        .filter(F.col("dist") <= int(max_edits))
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(int(max_expansions))
    )


def fuzzy_topk(
    index: InvertedIndex,
    term: str,
    k: int = 10,
    max_edits: int = 2,
    prefix_length: int = 0,
    max_expansions: int = 50,
) -> DataFrame:
    """Fuzzy retrieval (Lucene ``FuzzyQuery``): expand within
    ``max_edits``, score the expansion set as a disjunctive BM25 OR
    (sum of matching expansion partials per doc — see
    :func:`prefix_topk` on the scoring-vs-constant-score choice).
    ``(doc_id, score)``, tie-break score desc / doc_id asc."""
    spark = index.postings.sparkSession
    terms = [
        r["term"]
        for r in fuzzy_expand_terms(
            index.term_stats, term, max_edits, prefix_length, max_expansions
        ).collect()
    ]
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return (
        bm25_scored(index, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def regexp_expand_terms(
    term_stats: DataFrame, pattern: str, max_expansions: int = 50
) -> list[str]:
    """Lucene ``RegexpQuery`` term expansion: vocabulary terms whose
    ENTIRE string matches ``pattern`` — Lucene regexps are implicitly
    anchored (``RegexpQuery`` compiles to an automaton accepting the
    full term), so the pattern is wrapped ``^(?:...)$`` before the
    engine's substring-matching ``rlike``. Ranked df desc / term asc,
    capped at ``max_expansions`` (the top-terms rewrite budget, the
    same law as :func:`prefix_expand_terms`).

    Plan: ONE filter pass over the vocabulary (``term_stats`` — orders
    of magnitude smaller than postings at 10^12 docs; Lucene walks its
    term dictionary with the automaton, the Spark-first analog is a
    vocabulary scan) + TakeOrdered; the collect is ≤ ``max_expansions``
    rows. Callers should stick to the portable regex core (character
    classes, alternation, quantifiers) — Java-only constructs like
    backreferences won't transfer to other engines."""
    ranked = (
        term_stats.select("term", "df")
        .filter(F.col("term").rlike(f"^(?:{pattern})$"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(int(max_expansions))
    )
    return [r["term"] for r in ranked.collect()]


def regexp_topk(
    index: InvertedIndex,
    pattern: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """Regexp retrieval (Lucene ``RegexpQuery``): expand against the
    vocabulary, score the expansion set as a disjunctive BM25 OR (sum
    of matching expansion partials per doc — see :func:`prefix_topk`
    on the scoring-vs-constant-score choice). ``(doc_id, score)``,
    tie-break score desc / doc_id asc."""
    spark = index.postings.sparkSession
    terms = regexp_expand_terms(index.term_stats, pattern, max_expansions)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return (
        bm25_scored(index, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def related_terms(
    index: InvertedIndex,
    seed_term: str,
    k: int = 10,
    min_co: int = 2,
) -> DataFrame:
    """Top-``k`` terms by document-level PMI with ``seed_term``:
    ``(term, n_co, pmi)`` where ``n_co`` is the number of docs
    containing both terms and::

        pmi = ln( n_co · N / (df_seed · df_term) )

    (pointwise mutual information of the two document events; > 0
    means the pair co-occurs more than independence predicts). Ranked
    pmi desc, term asc; pairs with ``n_co < min_co`` are dropped —
    a 1-doc co-occurrence with a rare term yields a huge, meaningless
    PMI (the classic PMI rare-event bias).

    Plan: the seed's doc list prunes postings via a doc_id hash join
    (df(seed) rows — NOT broadcast by force: a josa-class seed matches
    a constant fraction of the corpus and must stay a shuffle join),
    one hash aggregate counts co-occurrences, then a term-keyed join
    against term_stats picks up df (left to AQE: the aggregated co
    side is usually broadcastable, but neither side is FORCED — the
    vocab of a 10^12-doc crawl does not fit one executor). The only
    data-proportional exchanges are the doc_id join + one aggregate.
    """
    seed_docs = (
        index.postings.filter(F.col("term") == seed_term)
        .select("doc_id")
        .distinct()
    )
    co = (
        index.postings.select("term", "doc_id")
        .join(seed_docs, "doc_id")
        .filter(F.col("term") != seed_term)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= int(min_co))
    )
    corpus = index.corpus_stats.first()
    n_docs = float(corpus["n_docs"])
    seed_df_row = index.term_stats.filter(F.col("term") == seed_term).first()
    if seed_df_row is None:
        spark = index.postings.sparkSession
        return spark.createDataFrame([], "term string, n_co bigint, pmi double")
    df_seed = float(seed_df_row["df"])
    return (
        co.join(index.term_stats.select("term", "df"), "term")
        .select(
            "term",
            "n_co",
            F.log(
                F.col("n_co").cast("double")
                * F.lit(n_docs)
                / (F.lit(df_seed) * F.col("df").cast("double"))
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("term"))
        .limit(k)
    )


def phrase_suggest(
    index: InvertedIndex,
    terms: list[str],
    max_edits: int = 2,
    min_df: int = 1,
) -> DataFrame:
    """ES ``phrase`` suggester (did-you-mean over a whole query):
    each query position gets its best correction — the vocabulary
    term within ``max_edits`` Levenshtein edits ranked edit-distance
    asc, then df desc, then term asc (the :func:`suggest_terms` law).
    A position whose term IS in the vocabulary keeps itself (distance
    0 beats every correction — ES's default confidence behaviour).
    Positions with no candidate fall back to the original with NULL
    df/dist. Output: ``(pos, original, suggestion, dist, df)`` — the
    corrected phrase is the suggestion column joined in pos order.

    The candidate model is the unigram-df generator (ES's
    ``direct_generator``); ES's optional bigram-LM rerank is exactly
    :func:`~..functions.curation.bigram_logprob`'s distribution and
    can rescore the cross-product when a collation pass is wanted.

    Plan: ONE vocabulary pass for ALL positions — the (pos, original)
    literal frame broadcast-joins ``term_stats`` under the length-band
    prefilter, then one tiny window ranks candidates per position.
    Driver traffic: |terms| rows."""
    from pyspark.sql import Window

    spark = index.postings.sparkSession
    inputs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(terms)], "pos int, original string"
    )
    cands = (
        index.term_stats.select("term", "df")
        .filter(F.col("df") >= int(min_df))
        .join(
            F.broadcast(inputs),
            F.abs(F.length("term") - F.length("original"))
            <= int(max_edits),
        )
        .withColumn("dist", F.levenshtein(F.col("term"), F.col("original")))
        .filter(F.col("dist") <= int(max_edits))
    )
    w = Window.partitionBy("pos").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    best = (
        cands.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "pos",
            F.col("term").alias("suggestion"),
            "dist",
            "df",
        )
    )
    return (
        inputs.join(best, "pos", "left")
        .select(
            "pos",
            "original",
            F.coalesce("suggestion", "original").alias("suggestion"),
            "dist",
            "df",
        )
        .orderBy("pos")
    )
