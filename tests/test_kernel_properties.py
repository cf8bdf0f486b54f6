"""Property-based invariants for the NumPy kernels (SURVEY.md §5.4) —
pure-python, no SparkSession, so hypothesis can explore aggressively."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_pit import kernels

@given(
    st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=120),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=200, deadline=None)
def test_lagk_pairs_total(codes, k):
    codes = np.array(codes, dtype=np.int64)
    out = kernels.lagk_pair_counts(codes, 4, k)
    expect = max(len(codes) - k, 0)
    assert out.sum() == expect
