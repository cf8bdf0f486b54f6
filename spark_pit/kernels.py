"""Whole-entity descriptor formulas as vectorized NumPy kernels: lag-k
token pair counts, the autocorrelation family, cross-covariance and token
distribution positions.

Each kernel is the re-expression of one reference descriptor shape
(SURVEY.md §2) on a single entity's time-ordered arrays, checked against
loop-level oracles in tests/test_kernels.py. All kernels are pure NumPy — no
per-row Python (input_hint mandate). They assume the caller has already
sorted by (ts, tiebreak) ascending.

Reference parity notes cite line ranges of the reference's feature.py,
whose formulas the kernels keep.
"""

from __future__ import annotations

import numpy as np


def lagk_pair_counts(codes: np.ndarray, n_tokens: int, k: int) -> np.ndarray:
    """CKSAAP/DPC analogue (feature.py:487-526, 528-555): counts of ordered
    token pairs (a, b) with b exactly k positions after a, over the whole
    entity. Returns flat (n_tokens*n_tokens,) counts; caller normalizes by
    (L - k) to match the reference's type-1 normalization."""
    out = np.zeros(n_tokens * n_tokens, dtype=np.int64)
    if len(codes) <= k:
        return out
    a, b = codes[:-k], codes[k:]
    m = (a >= 0) & (b >= 0)
    np.add.at(out, a[m] * n_tokens + b[m], 1)
    return out


def autocorr_features(x: np.ndarray, nlags: int) -> dict[str, np.ndarray]:
    """Autocorrelation family on one numeric channel (feature.py §2.5):

    - nmbroto[n] = sum(x_j * x_{j+n}) / (L - n)            (feature.py:1428-1485)
    - moran[n]   = [sum((x_j-m)(x_{j+n}-m))/(L-n)] / [sum((x_j-m)^2)/L]
                                                           (feature.py:1487-1548)
    - geary[n]   = (L-1)/(2(L-n)) * sum((x_j-x_{j+n})^2) / sum((x_j-m)^2)
                                                           (feature.py:1550-1610)
    - ac[n]      = sum((x_j-m)(x_{j+n}-m)) / (L-n)         (feature.py:1620-1668)

    Returns dict of arrays of length nlags (NaN where L <= n or var==0).
    """
    L = len(x)
    m = x.mean() if L else np.nan
    ss = float(((x - m) ** 2).sum()) if L else np.nan
    out = {k: np.full(nlags, np.nan) for k in ("nmbroto", "moran", "geary", "ac")}
    for n in range(1, nlags + 1):
        if L <= n:
            continue
        a, b = x[:-n], x[n:]
        out["nmbroto"][n - 1] = float((a * b).sum()) / (L - n)
        cov = float(((a - m) * (b - m)).sum()) / (L - n)
        out["ac"][n - 1] = cov
        if ss > 0:
            out["moran"][n - 1] = cov / (ss / L)
            out["geary"][n - 1] = (L - 1) / (2.0 * (L - n)) * float(((a - b) ** 2).sum()) / ss
    return out


def cross_cov(x1: np.ndarray, x2: np.ndarray, nlags: int) -> np.ndarray:
    """CC analogue (feature.py:1670-1721): cross-covariance of two channels
    at lags 1..nlags: sum((x1_j-m1)(x2_{j+n}-m2)) / (L-n)."""
    L = len(x1)
    m1, m2 = (x1.mean(), x2.mean()) if L else (np.nan, np.nan)
    out = np.full(nlags, np.nan)
    for n in range(1, nlags + 1):
        if L <= n:
            continue
        out[n - 1] = float(((x1[:-n] - m1) * (x2[n:] - m2)).sum()) / (L - n)
    return out


def distribution_positions(codes: np.ndarray, n_tokens: int) -> np.ndarray:
    """CTDD analogue (feature.py:1978-2050): for each token t, the 1-based
    position (as % of L) where the running count of t first reaches
    ceil(q * total_t) for q in (eps, .25, .5, .75, 1.0) — eps meaning the
    first occurrence. Returns (n_tokens, 5), 0.0 where the token is absent
    (reference emits 0, feature.py:1969-1970)."""
    L = len(codes)
    out = np.zeros((n_tokens, 5), dtype=np.float64)
    qs = (0.0, 0.25, 0.5, 0.75, 1.0)
    for t in range(n_tokens):
        pos = np.flatnonzero(codes == t)
        total = len(pos)
        if total == 0:
            continue
        for qi, q in enumerate(qs):
            k = 1 if q == 0.0 else int(np.ceil(q * total))
            out[t, qi] = (pos[k - 1] + 1) * 100.0 / L
    return out
