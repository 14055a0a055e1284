"""Property tests: histogram-based exact quantiles/MAD vs numpy oracle.

These guard the engine's central trick — computing exact np.quantile-
parity statistics from a bounded-int value-count histogram instead of an
ObjectHashAggregate over every row (SURVEY.md §2.3 A1/A2 parity).
Pure numpy; no SparkSession needed.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from autoprepad_spark.functions.stats import mad_from_counts, weighted_quantiles


def _expand(values, counts):
    return np.repeat(np.asarray(values, dtype=np.float64), counts)


@given(
    st.lists(
        st.tuples(st.integers(0, 5000), st.integers(1, 50)),
        min_size=1,
        max_size=200,
        unique_by=lambda t: t[0],
    ),
    st.lists(st.floats(0.0, 1.0), min_size=1, max_size=5),
)
@settings(max_examples=200, deadline=None)
def test_weighted_quantiles_match_numpy(pairs, qs):
    values = np.array([p[0] for p in pairs], dtype=np.float64)
    counts = np.array([p[1] for p in pairs], dtype=np.int64)
    data = _expand(values, counts)
    got = weighted_quantiles(values, counts, qs)
    want = [float(np.quantile(data, q)) for q in qs]
    assert np.allclose(got, want, rtol=0, atol=1e-9), (got, want)


@given(
    st.lists(
        st.tuples(st.integers(0, 2000), st.integers(1, 20)),
        min_size=1,
        max_size=100,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=200, deadline=None)
def test_mad_matches_numpy(pairs):
    values = np.array([p[0] for p in pairs], dtype=np.float64)
    counts = np.array([p[1] for p in pairs], dtype=np.int64)
    data = _expand(values, counts)
    med = float(np.quantile(data, 0.5))
    got = mad_from_counts(values, counts, med)
    want = float(np.quantile(np.abs(data - med), 0.5))
    assert abs(got - want) < 1e-9


def test_unsorted_input_and_single_value():
    assert weighted_quantiles(
        np.array([5.0, 1.0, 3.0]), np.array([1, 1, 1]), [0.5]
    ) == [3.0]
    assert weighted_quantiles(np.array([7.0]), np.array([10]), [0.0, 0.5, 1.0]) == [
        7.0,
        7.0,
        7.0,
    ]
    assert mad_from_counts(np.array([7.0]), np.array([3]), 7.0) == 0.0
