"""``executor._intersect`` — the AST evaluator's one intersection
kernel (scored and unscored And, phrase candidates, must_not removal) —
answers exactly what ``np.intersect1d(a, b, assume_unique=True,
return_indices=True)`` answers: the same common docs and the same
indexes into each side, element for element and dtype for dtype."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mecab_ko_lucene_analyzer_spark.query.executor import _intersect

I64 = np.iinfo(np.int64)


def _docs(values) -> np.ndarray:
    return np.array(sorted(set(values)), dtype=np.int64)


def _assert_matches_intersect1d(a: np.ndarray, b: np.ndarray) -> None:
    got = _intersect(a, b)
    want = np.intersect1d(a, b, assume_unique=True, return_indices=True)
    assert len(got) == len(want) == 3
    for g, w in zip(got, want):
        assert g.dtype == w.dtype
        np.testing.assert_array_equal(g, w)


#: small values collide often; the int64 ends and wide draws probe
#: the comparison at the extremes
_VALUES = st.one_of(
    st.integers(-40, 40),
    st.sampled_from([I64.min, I64.min + 1, -1, 0, I64.max - 1, I64.max]),
    st.integers(I64.min, I64.max),
)


@st.composite
def _pairs(draw):
    """Two sorted unique arrays drawn from one pool, so they overlap by
    any share, from disjoint to identical, at any length ratio."""
    pool = draw(st.lists(_VALUES, max_size=300, unique=True))
    in_a = draw(st.lists(st.booleans(), min_size=len(pool), max_size=len(pool)))
    in_b = draw(st.lists(st.booleans(), min_size=len(pool), max_size=len(pool)))
    a = _docs(v for v, keep in zip(pool, in_a) if keep)
    b = _docs(v for v, keep in zip(pool, in_b) if keep)
    return a, b


@settings(max_examples=400, deadline=None)
@given(_pairs())
def test_intersect_matches_intersect1d(pair):
    a, b = pair
    _assert_matches_intersect1d(a, b)
    _assert_matches_intersect1d(b, a)


_RNG = np.random.default_rng(5)
_WIDE = _docs(_RNG.integers(0, 1_000_000, 50_000).tolist())

CASES = {
    "both-empty": ([], []),
    "one-empty": ([], [1, 2, 3]),
    "disjoint": ([1, 3, 5], [0, 2, 4, 6]),
    "disjoint-ranges": ([1, 2, 3], [10, 20]),
    "identical": ([2, 4, 8, 16], [2, 4, 8, 16]),
    "one-element-hit": ([7], [1, 7, 9]),
    "one-element-miss": ([8], [1, 7, 9]),
    "one-element-each": ([5], [5]),
    "past-the-end": ([100], [1, 2, 3]),
    "before-the-start": ([-100], [1, 2, 3]),
    "int64-extremes": (
        [I64.min, -1, 0, I64.max],
        [I64.min, I64.min + 1, 0, I64.max - 1, I64.max],
    ),
    "very-unequal": (_WIDE[::9973].tolist() + [1_000_001], _WIDE.tolist()),
    "very-unequal-one": ([int(_WIDE[-1])], _WIDE.tolist()),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_intersect_edge_cases(case):
    a, b = (_docs(v) for v in CASES[case])
    _assert_matches_intersect1d(a, b)
    _assert_matches_intersect1d(b, a)
