"""Compound / multi-term query surface: ``dis_max``, ``boosting``,
``constant_score``, ``wildcard`` and ``match_phrase_prefix``.

Parity anchors:

* ``dis_max`` — the reference's analyzed queries are ES
  ``multi_match`` with per-field boosts
  (``DanawaSearchQueryBuilder.java:178``); ES compiles best_fields
  multi_match to a DisjunctionMaxQuery with a tie_breaker, so dis_max
  is the scoring law under every multi-field query the reference
  emits.  Score per doc = ``max(clause scores) + tie_breaker *
  (sum(clause scores) - max)``.
* ``boosting`` / ``constant_score`` / ``wildcard`` — ES query-DSL
  surface of the cluster the reference's plugin serves (no direct
  builder call-site; completes the DSL the serving engine accepts).
* ``match_phrase_prefix`` — ES's autocomplete phrase (last position
  prefix-expanded under the ``max_expansions`` top-terms budget),
  the phrase-side sibling of ``fullTermQuery``'s match_phrase
  (``DanawaSearchQueryBuilder.java:287-291``).

Plan shapes (design-for-100×):

* dis_max scores every clause from ONE IN-pruned postings scan — the
  (term → clause) map rides a broadcast join, per-clause sums are
  conditional aggregates inside a single per-doc hash aggregate (no
  per-clause scan, no (doc, clause) intermediate shuffle).
* boosting adds one doc_id-keyed left semi-shape join of the negative
  match set against the positive scored relation — both sides already
  partition on doc_id.
* wildcard reuses the vocabulary-walk top-terms rewrite
  (``expand.regexp_expand_terms``): the automaton runs over
  ``term_stats`` (tiny vs postings), never over documents.
* match_phrase_prefix decodes fixed + expansion blocks in one scan,
  relabels every expansion hit into one sentinel slot, and reuses the
  shared ``phrase_reach`` DP per doc — same single doc_id-keyed
  shuffle as ``router.phrase_match_docs``.
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..index.build import InvertedIndex
from .bm25 import term_partials

__all__ = [
    "dis_max_scored",
    "dis_max_topk",
    "boosting_scored",
    "boosting_topk",
    "constant_score_docs",
    "wildcard_to_regexp",
    "wildcard_expand_terms",
    "wildcard_topk",
    "phrase_prefix_docs",
]

#: regex metacharacters that must be literal inside a translated
#: wildcard pattern (everything re.escape handles except * and ?).
_WILDCARD_TOKEN_RE = re.compile(r"(\*|\?)")


def dis_max_scored(
    index: InvertedIndex,
    clauses: Sequence[Sequence[str]],
    tie_breaker: float = 0.0,
) -> DataFrame:
    """Every matching doc's DisMax score ``(doc_id, score)``.

    Each clause is an OR bag of terms scored exactly like
    :func:`~.bm25.bm25_scored`; the doc score is ``max + tie_breaker *
    (sum - max)`` over its MATCHING clauses (ES DisjunctionMaxQuery).

    One postings scan: the union of all clause terms is an IN filter
    pushed to the scan; a broadcast (term, clause) map fans each
    posting row into its clause(s); per-clause scores are conditional
    sums inside a single per-doc hash aggregate.  BM25 partials are
    non-negative, so missing clauses coalesce to 0 without changing
    the max — the oracle uses the identical coalesce arithmetic.
    """
    spark = index.postings.sparkSession
    pairs = sorted(
        {(t, ci) for ci, clause in enumerate(clauses) for t in clause}
    )
    if not pairs:
        return spark.createDataFrame([], "doc_id long, score double")
    n_clauses = len(clauses)
    cmap = spark.createDataFrame(pairs, "term string, clause int")
    partials = term_partials(index, [t for t, _ in pairs]).join(
        F.broadcast(cmap), "term"
    )
    # one hash aggregate; clause count is query-bounded (tiny)
    per_doc = partials.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("clause") == ci, F.col("partial"))),
                F.lit(0.0),
            ).alias(f"_c{ci}")
            for ci in range(n_clauses)
        ]
    )
    cols = [F.col(f"_c{ci}") for ci in range(n_clauses)]
    best = cols[0] if n_clauses == 1 else F.greatest(*cols)
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    return per_doc.select(
        "doc_id",
        (best + F.lit(float(tie_breaker)) * (total - best)).alias("score"),
    )


def dis_max_topk(
    index: InvertedIndex,
    clauses: Sequence[Sequence[str]],
    tie_breaker: float = 0.0,
    k: int = 10,
) -> DataFrame:
    """TakeOrdered cut of :func:`dis_max_scored` (score desc, doc_id
    asc — the engine-wide deterministic tie-break)."""
    return (
        dis_max_scored(index, clauses, tie_breaker)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def boosting_scored(
    index: InvertedIndex,
    positive: Sequence[str],
    negative: Sequence[str],
    negative_boost: float = 0.5,
) -> DataFrame:
    """Pre-top-k boosting relation ``(doc_id, score)`` — see
    :func:`boosting_topk` for semantics and plan shape."""
    from .bm25 import bm25_scored

    scored = bm25_scored(index, list(positive))
    neg = (
        index.postings.filter(F.col("term").isin(sorted(set(negative))))
        .select("doc_id")
        .distinct()
        .withColumn("_neg", F.lit(1))
    )
    return scored.join(neg, "doc_id", "left").select(
        "doc_id",
        F.when(
            F.col("_neg").isNotNull(),
            F.col("score") * F.lit(float(negative_boost)),
        )
        .otherwise(F.col("score"))
        .alias("score"),
    )


def boosting_topk(
    index: InvertedIndex,
    positive: Sequence[str],
    negative: Sequence[str],
    negative_boost: float = 0.5,
    k: int = 10,
) -> DataFrame:
    """ES ``boosting`` query: docs are retrieved and scored by the
    ``positive`` OR bag; any doc ALSO matching a ``negative`` term
    keeps its rank eligibility but has its score multiplied by
    ``negative_boost`` (demotion without exclusion — the contrast with
    ``must_not``).  The demotion applies BEFORE the top-k cut, so a
    demoted head doc can fall out of the page.

    Plan: positive scores via the shared scorer; the negative match
    set is a distinct doc_id projection of an IN-pruned postings scan,
    left-joined on doc_id (both sides hash-partition on doc_id; the
    join adds no third shuffle of the big relation at scale because
    the scored side is already doc_id-keyed)."""
    return (
        boosting_scored(index, positive, negative, negative_boost)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def constant_score_docs(
    index: InvertedIndex,
    query_terms: Sequence[str],
    boost: float = 1.0,
) -> DataFrame:
    """ES ``constant_score``: every doc matching the OR bag scores
    exactly ``boost`` — the filter-context wrapper that skips scoring
    entirely (Lucene's ConstantScoreQuery, and the rewrite Lucene
    itself applies to multi-term queries by default).  One IN-pruned
    scan + one per-doc aggregate; no stats joins, no idf math."""
    from .aggs import matching_docs

    return matching_docs(index, list(query_terms)).select(
        "doc_id", F.lit(float(boost)).alias("score")
    )


def wildcard_to_regexp(pattern: str) -> str:
    """Translate a Lucene ``WildcardQuery`` pattern (``*`` = any run,
    ``?`` = any single char) to the portable regex core both the
    vocabulary walk (Java ``rlike``) and external engines (RE2) agree
    on.  Everything except the two metacharacters is escaped
    literally."""
    out = []
    for tok in _WILDCARD_TOKEN_RE.split(pattern):
        if tok == "*":
            out.append(".*")
        elif tok == "?":
            out.append(".")
        else:
            out.append(re.escape(tok))
    return "".join(out)


def wildcard_expand_terms(
    term_stats: DataFrame, pattern: str, max_expansions: int = 50
) -> list[str]:
    """Lucene ``WildcardQuery`` expansion = the regexp vocabulary walk
    over the translated pattern (full-string anchored, df desc / term
    asc under the top-terms budget)."""
    from .expand import regexp_expand_terms

    return regexp_expand_terms(
        term_stats, wildcard_to_regexp(pattern), max_expansions
    )


def wildcard_topk(
    index: InvertedIndex,
    pattern: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """Wildcard retrieval: expand against the vocabulary, score the
    expansion set as a disjunctive BM25 OR (the engine's documented
    scoring rewrite — see ``expand.prefix_topk``)."""
    from .bm25 import bm25_scored

    spark = index.postings.sparkSession
    terms = wildcard_expand_terms(index.term_stats, pattern, max_expansions)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return (
        bm25_scored(index, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


#: sentinel slot label for the expanded last phrase position; NUL is
#: unreachable from tokenized text (tokenizers never emit it).
_EXP_SLOT = "\x00exp"


def phrase_prefix_docs(
    blocks: DataFrame,
    fixed_terms: Sequence[str],
    expansions: Sequence[str],
    slop: int = 0,
) -> DataFrame:
    """ES ``match_phrase_prefix`` match set → DataFrame[doc_id]: docs
    where ``fixed_terms`` occur consecutively (within ``slop``)
    followed by ANY term from ``expansions`` (the caller expands the
    prefix under the ``max_expansions`` budget via
    ``expand.prefix_expand_terms`` — the budget is part of the
    semantics, exactly Lucene's top-terms rewrite).

    Plan: ONE term-pruned block scan covering fixed + expansion terms
    (the same vectorized varint/cumsum decode as
    ``router.phrase_match_docs``), every expansion hit relabeled into one
    sentinel slot, ONE doc_id-keyed hash aggregate, then the shared
    ``phrase_reach`` DP with the sentinel slot's positions = the
    sorted union of its expansion terms' positions.  A term serving
    both roles (a fixed term that itself matches the prefix) fans into
    both slots via the label array — correctness does not depend on
    disjointness."""
    from .router import _PHRASE_DECODE_SCHEMA  # shared decode schema

    fixed = list(fixed_terms)
    exp = sorted(set(expansions))
    if not exp:
        return blocks.sparkSession.createDataFrame([], "doc_id bigint")
    uniq = sorted(set(fixed) | set(exp))
    slots = tuple(fixed) + (_EXP_SLOT,)
    n_slots = len(set(slots))

    def decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from ..index.codec import decode_block_arrays

        for pdf in batches:
            ids_out, terms_out, pos_out = [], [], []
            for term, dd, tfs_b, pos_b in zip(
                pdf["term"], pdf["doc_deltas"], pdf["tfs"], pdf["pos_deltas"]
            ):
                docs, _, _, positions = decode_block_arrays(
                    bytes(dd), bytes(tfs_b), pos_deltas=bytes(pos_b)
                )
                ids_out.append(docs)
                terms_out.extend([term] * len(docs))
                pos_out.extend(positions)
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_out),
                        "term": pd.Series(terms_out, dtype="object"),
                        "positions": pd.Series(pos_out, dtype="object"),
                    }
                )

    decoded = (
        blocks.filter(F.col("term").isin(uniq))
        .select("term", "doc_deltas", "tfs", "pos_deltas")
        .mapInPandas(decode, _PHRASE_DECODE_SCHEMA)
    )
    fixed_set = sorted(set(fixed))
    labels = F.concat(
        F.when(
            F.col("term").isin(fixed_set), F.array(F.col("term"))
        ).otherwise(F.array().cast("array<string>")),
        F.when(
            F.col("term").isin(exp), F.array(F.lit(_EXP_SLOT))
        ).otherwise(F.array().cast("array<string>")),
    )
    slotted = decoded.select(
        "doc_id", F.explode(labels).alias("slot"), "positions"
    )
    per_doc = (
        slotted.groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("slot"), F.col("positions"))
            ).alias("sps")
        )
        # distinct-slot coverage: the sentinel slot may carry several
        # rows (one per matched expansion term present in the doc)
        .filter(
            F.size(
                F.array_distinct(
                    F.transform(F.col("sps"), lambda e: e["slot"])
                )
            )
            == n_slots
        )
    )

    def check(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from .executor import phrase_reach

        for pdf in batches:
            keep = []
            for doc_id, sps in zip(pdf["doc_id"], pdf["sps"]):
                pm: dict[str, list] = {}
                for e in sps:
                    pm.setdefault(e["slot"], []).append(
                        np.asarray(e["positions"], dtype=np.int64)
                    )
                merged = {
                    s: (
                        arrs[0]
                        if len(arrs) == 1
                        else np.sort(np.concatenate(arrs), kind="stable")
                    )
                    for s, arrs in pm.items()
                }
                pos_lists = [merged[s] for s in slots]
                if phrase_reach(pos_lists, slop):
                    keep.append(int(doc_id))
            yield pd.DataFrame({"doc_id": pd.Series(keep, dtype="int64")})

    return per_doc.mapInPandas(check, "doc_id bigint")
