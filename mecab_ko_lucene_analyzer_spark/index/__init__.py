from .build import InvertedIndex, build_and_write, build_index, load_index

__all__ = [
    "InvertedIndex",
    "build_and_write",
    "build_index",
    "load_index",
]
