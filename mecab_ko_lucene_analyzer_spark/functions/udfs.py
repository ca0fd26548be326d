"""Vectorized analyzer UDFs — the whole A1–A10 chain as one Arrow batch
function (no per-row Python API: one ``pandas_udf`` call analyzes a full
Arrow batch of documents; SURVEY.md §2.5 "UDF surface").

The analysis itself is pure Python per document (it is a sequential
automaton over a morpheme lattice — the same boundary the reference
crosses via JNI per document, ``MeCabKoTokenizer.java:134-139``), but
batching is Arrow-columnar and the lattice provider is a per-executor
singleton, so the per-batch overhead is one FFI hop, not one per row.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf

from ..analysis.tokenizer import get_lattice_provider, token_records

__all__ = ["TOKEN_SCHEMA", "analyze_udf", "tokens_table", "product_tokens_table"]

#: per-token struct emitted by the analyzer (SURVEY.md §1.1 Spark mapping)
TOKEN_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("type", T.StringType(), False),
            T.StructField("pos", T.StringType(), True),
            T.StructField("semantic_class", T.StringType(), True),
            T.StructField("position", T.IntegerType(), False),
            T.StructField("pos_len", T.IntegerType(), False),
            T.StructField("start_offset", T.IntegerType(), False),
            T.StructField("end_offset", T.IntegerType(), False),
        ]
    )
)


def _analyze_series(
    texts: pd.Series, mode: str, compound_noun_min_length: int
) -> pd.Series:
    provider = get_lattice_provider()  # executor-process singleton
    return texts.map(
        lambda t: token_records(
            t or "", mode, compound_noun_min_length, provider=provider
        )
    )


def analyze_udf(mode: str = "standard", compound_noun_min_length: int = 3):
    """Build the analyzer ``pandas_udf`` for one of the three presets
    (standard | keyword | similarity)."""
    def fn(texts: pd.Series) -> pd.Series:
        return _analyze_series(texts, mode, compound_noun_min_length)

    return pandas_udf(fn, TOKEN_SCHEMA)


FLAT_TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("position", T.IntegerType(), False),
        T.StructField("start_offset", T.IntegerType(), False),
        T.StructField("end_offset", T.IntegerType(), False),
    ]
)


def tokens_table(
    pages: DataFrame,
    doc_id: Column | str = "doc_id",
    text: Column | str = "text",
    mode: str = "standard",
    compound_noun_min_length: int = 3,
) -> DataFrame:
    """``webpages`` → flat token table
    ``(doc_id, term, type, position, start_offset, end_offset)``.

    Implemented with ``mapInPandas`` emitting flat columnar batches:
    cheaper than array<struct> + explode because the Arrow conversion
    is plain string/int columns, not per-token Python dicts.
    """
    from ..analysis.tokenizer import get_lattice_provider, tokenize

    doc_col = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    text_col = F.col(text) if isinstance(text, str) else text
    narrow = pages.select(doc_col.alias("doc_id"), text_col.alias("text"))

    def emit(batches):
        provider = get_lattice_provider()
        for pdf in batches:
            doc_ids: list[int] = []
            terms: list[str] = []
            types: list[str] = []
            positions: list[int] = []
            starts: list[int] = []
            ends: list[int] = []
            for d, txt in zip(pdf["doc_id"].to_numpy(), pdf["text"]):
                position = -1
                for p in tokenize(
                    txt or "", mode, compound_noun_min_length, provider=provider
                ):
                    position += p.position_incr
                    doc_ids.append(d)
                    terms.append(p.token_string())
                    types.append(p.pos_id.name)
                    positions.append(position)
                    starts.append(p.start_offset)
                    ends.append(p.end_offset)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "term": terms,
                    "type": types,
                    "position": pd.Series(positions, dtype="int32"),
                    "start_offset": pd.Series(starts, dtype="int32"),
                    "end_offset": pd.Series(ends, dtype="int32"),
                }
            )

    return narrow.mapInPandas(emit, FLAT_TOKENS_SCHEMA)


def product_tokens_table(
    docs: DataFrame,
    dicts,
    option=None,
    doc_id: Column | str = "doc_id",
    text: Column | str = "text",
) -> DataFrame:
    """Product-name analysis chain (A11–A23) as a flat Spark token table.

    ``dicts`` is a :class:`...analysis.product.ProductDictionarySet` —
    plain picklable dicts/sets, shipped to executors in the UDF closure
    (≙ broadcast; rebuild + rerun = the reference's dictionary reload).
    Index-mode emission: sub-entries/synonyms appear as same-position
    tokens.
    """
    from ..analysis.product import ProductAnalyzerOption, ProductNameAnalyzer

    option = option or ProductAnalyzerOption(use_for_query=False)
    doc_col = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    text_col = F.col(text) if isinstance(text, str) else text
    narrow = docs.select(doc_col.alias("doc_id"), text_col.alias("text"))

    def emit(batches):
        analyzer = ProductNameAnalyzer(dicts, option)
        for pdf in batches:
            doc_ids, terms, types, positions, starts, ends = [], [], [], [], [], []
            for d, txt in zip(pdf["doc_id"].to_numpy(), pdf["text"]):
                for t in analyzer.analyze(txt or ""):
                    doc_ids.append(d)
                    terms.append(t["term"])
                    types.append(t["type"])
                    positions.append(t["position"])
                    starts.append(t["start_offset"])
                    ends.append(t["end_offset"])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "term": terms,
                    "type": types,
                    "position": pd.Series(positions, dtype="int32"),
                    "start_offset": pd.Series(starts, dtype="int32"),
                    "end_offset": pd.Series(ends, dtype="int32"),
                }
            )

    return narrow.mapInPandas(emit, FLAT_TOKENS_SCHEMA)
