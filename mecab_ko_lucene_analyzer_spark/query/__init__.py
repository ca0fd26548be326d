from .batch import ast_topk_batch
from .bm25 import bm25_topk, bm25_oracle, lucene_idf
from .expand import mlt_topk, related_terms, suggest_terms

__all__ = [
    "bm25_topk",
    "bm25_oracle",
    "lucene_idf",
    "ast_topk_batch",
    "mlt_topk",
    "related_terms",
    "suggest_terms",
]
