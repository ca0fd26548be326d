"""Score explanation (the ES ``_explain`` / Lucene ``Explanation`` API).

Two forms:

* :func:`explain_terms` — the DISTRIBUTED relation of per-(term, doc)
  BM25 partials: exactly the rows :func:`~..query.bm25.bm25_scored`
  sums per doc, kept un-aggregated with their inputs (tf, df, idf,
  doc_len). This is the corpus-side form — auditing why a ranking
  looks the way it does over millions of docs is a DataFrame job, not
  a per-doc REST call.
* :func:`explanation_tree` / ``SearchEngine.explain`` — the per-hit
  nested Explanation dict Lucene renders (value, description,
  details), built from the serving block postings so the explained
  value is bit-identical to the score the serving path returned.

Reference anchor: the reference delegates scoring to Lucene
``BM25Similarity`` (``pom.xml:52``), whose ``explain()`` emits the
idf * tfNorm product tree this module reproduces.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..index.build import B, InvertedIndex, K1
from .bm25 import bm25_partial, term_partials

__all__ = ["explain_terms", "explanation_tree"]


def explain_terms(
    index: InvertedIndex,
    query_terms: list[str],
    round_digits: int | None = None,
) -> DataFrame:
    """Per-(doc, term) BM25 partials for ``query_terms``:
    ``(doc_id, term, tf, df, idf, partial)`` — a projection of
    :func:`~.bm25.term_partials`, the relation every DataFrame BM25
    scorer aggregates, so its plan is the scorer's (IN-pruned postings
    scan, broadcast idf join) with no aggregate at all. The per-doc
    sum is the caller's to take: ``groupBy(doc_id).sum(partial)``
    reproduces ``bm25_scored`` (the tests pin it).
    ``round_digits`` rounds ``partial``.
    """
    spark = index.postings.sparkSession
    if not query_terms:
        return spark.createDataFrame(
            [], "doc_id long, term string, tf long, df long, idf double, partial double"
        )
    partial = F.col("partial")
    if round_digits is not None:
        partial = F.round(partial, round_digits)
    return term_partials(index, query_terms).select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "idf",
        partial.alias("partial"),
    )


def explanation_tree(
    per_term: list[dict],
    doc_id: int,
) -> dict:
    """Lucene-style nested Explanation from per-term component dicts
    ``{term, tf, df, doc_len, idf, avgdl, n_docs}`` (driver-side; the
    engine feeds it the covering blocks' reads so the total equals the
    served score bit-for-bit)."""
    details = []
    total = 0.0
    for c in per_term:
        tf, dl, avgdl = float(c["tf"]), float(c["doc_len"]), float(c["avgdl"])
        norm = bm25_partial(1.0, tf, dl, avgdl)
        partial = bm25_partial(c["idf"], tf, dl, avgdl)
        total += partial
        details.append(
            {
                "value": partial,
                "description": (
                    f"weight(term={c['term']!r} in doc {doc_id}) [BM25],"
                    " product of:"
                ),
                "details": [
                    {
                        "value": c["idf"],
                        "description": (
                            "idf, ln(1 + (N - df + 0.5) / (df + 0.5))"
                            f" with df={c['df']}, N={c['n_docs']}"
                        ),
                        "details": [],
                    },
                    {
                        "value": norm,
                        "description": (
                            "tf norm, tf / (tf + k1 * (1 - b + b * dl/avgdl))"
                            f" with tf={int(tf)}, dl={int(dl)},"
                            f" avgdl={avgdl}, k1={K1}, b={B}"
                        ),
                        "details": [],
                    },
                ],
            }
        )
    return {
        "value": total,
        "description": f"score(doc={doc_id}), sum of:",
        "details": details,
        "matched": bool(details),
    }
