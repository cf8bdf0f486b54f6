"""Unit tests for the NumPy kernels against loop-level oracles.

The loop oracles restate the reference semantics (SURVEY.md §2 tables,
/root/reference/feature.py formulas) in the most literal form possible, so
the vectorized kernels are checked against spec, not against themselves.
"""

from __future__ import annotations

import numpy as np
import pytest

from spark_pit import kernels


def test_lagk_pair_counts_matches_loop():
    """CKSAAP semantics: pairs exactly k apart (feature.py:509-514 loop)."""
    rng = np.random.default_rng(3)
    codes = rng.integers(0, 3, size=29)
    for k in (1, 2, 5):
        out = kernels.lagk_pair_counts(codes, 3, k)
        want = np.zeros(9, dtype=int)
        for j in range(len(codes) - k):
            want[codes[j] * 3 + codes[j + k]] += 1
        assert out.tolist() == want.tolist()


def test_autocorr_features_matches_loop():
    """Formulas of feature.py:1428-1668 (NMBroto/Moran/Geary/AC)."""
    rng = np.random.default_rng(11)
    x = rng.normal(10, 3, size=41)
    L = len(x)
    m = x.mean()
    ss = ((x - m) ** 2).sum()
    out = kernels.autocorr_features(x, 3)
    for n in (1, 2, 3):
        a, b = x[:-n], x[n:]
        assert out["nmbroto"][n - 1] == pytest.approx((a * b).sum() / (L - n))
        cov = ((a - m) * (b - m)).sum() / (L - n)
        assert out["ac"][n - 1] == pytest.approx(cov)
        assert out["moran"][n - 1] == pytest.approx(cov / (ss / L))
        assert out["geary"][n - 1] == pytest.approx(
            (L - 1) / (2 * (L - n)) * ((a - b) ** 2).sum() / ss
        )


def test_autocorr_short_series_nan():
    out = kernels.autocorr_features(np.array([1.0]), 3)
    assert np.isnan(out["nmbroto"]).all()


def test_cross_cov_matches_loop():
    rng = np.random.default_rng(13)
    x1 = rng.normal(size=30)
    x2 = rng.normal(size=30)
    out = kernels.cross_cov(x1, x2, 2)
    m1, m2 = x1.mean(), x2.mean()
    for n in (1, 2):
        want = ((x1[:-n] - m1) * (x2[n:] - m2)).sum() / (30 - n)
        assert out[n - 1] == pytest.approx(want)


def test_distribution_positions_matches_loop():
    """CTDD semantics (feature.py:1957-1976 Count1 helper)."""
    rng = np.random.default_rng(17)
    codes = rng.integers(0, 3, size=40)
    out = kernels.distribution_positions(codes, 3)
    L = len(codes)
    for t in range(3):
        pos = [i for i, c in enumerate(codes) if c == t]
        total = len(pos)
        for qi, q in enumerate((0.0, 0.25, 0.5, 0.75, 1.0)):
            k = 1 if q == 0.0 else int(np.ceil(q * total))
            want = (pos[k - 1] + 1) * 100.0 / L if total else 0.0
            assert out[t, qi] == pytest.approx(want)


def test_target_encode_pit_no_leakage(spark):
    """Expanding target encoding: each row's mean covers strictly-earlier
    same-category rows only (pandas expanding().mean().shift() twin), the
    first occurrence is null, and the m-estimate prior path shrinks
    toward the prior."""
    import datetime as dt

    import pandas as pd

    from spark_pit.operators.windows import target_encode_pit

    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "event_id": range(8),
            "cat": ["a", "a", "b", "a", "b", "b", "a", "b"],
            "ts": [t0 + dt.timedelta(seconds=i) for i in range(8)],
            "value": [10.0, 20.0, 5.0, 30.0, 7.0, 9.0, 40.0, 11.0],
        }
    )
    out = (
        target_encode_pit(
            spark.createDataFrame(pdf), "cat", "ts", "value", tiebreak="event_id"
        )
        .toPandas().set_index("event_id").sort_index()
    )
    twin = (
        pdf.assign(
            exp=pdf.groupby("cat")["value"].transform(
                lambda s: s.expanding().mean().shift()
            )
        ).set_index("event_id")
    )
    for i in range(8):
        e, t = out.loc[i, "te_mean"], twin.loc[i, "exp"]
        if pd.isna(t):
            assert pd.isna(e), i
        else:
            assert e == round(t, 6), (i, e, t)
    assert out.loc[0, "te_count"] == 0 and pd.isna(out.loc[0, "te_mean"])
    # prior path: count=0 rows get the prior itself
    outp = (
        target_encode_pit(
            spark.createDataFrame(pdf), "cat", "ts", "value",
            tiebreak="event_id", prior=15.0, prior_weight=10,
        )
        .toPandas().set_index("event_id").sort_index()
    )
    assert outp.loc[0, "te_mean"] == 15.0
    # smoothed value sits between raw expanding mean and the prior
    assert 10.0 < outp.loc[1, "te_mean"] < 15.0
