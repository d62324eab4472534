"""FLUSS segmentation primitives (reference discover.go).

The arc curve counts, for every position, how many profile-index arcs
pass over it; normalized by the ideal arc curve it yields the corrected
arc curve (CAC) whose global minimum is the segmentation point.
"""

from __future__ import annotations

import numpy as np


def arc_curve(mp_idx: np.ndarray) -> np.ndarray:
    """Uncorrected arc histogram (arcCurve, discover.go:18-36).

    For each i with a valid idx, increments every position strictly
    between i and idx. Indices >= len or < 0 are ignored. Vectorized as
    +1/-1 boundary marks + prefix sum instead of the reference's nested
    loops — identical output, O(n).
    """
    mp_idx = np.asarray(mp_idx, dtype=np.int64)
    n = mp_idx.size
    i = np.arange(n)
    valid = (mp_idx >= 0) & (mp_idx < n) & (np.abs(mp_idx - i) >= 2)
    lo = np.minimum(i[valid], mp_idx[valid]) + 1
    hi = np.maximum(i[valid], mp_idx[valid])  # exclusive
    marks = np.zeros(n + 1)
    np.add.at(marks, lo, 1.0)
    np.add.at(marks, hi, -1.0)
    return np.cumsum(marks[:n])


def iac(x, n: int):
    """Ideal arc curve -(sqrt(2/n)(x-n/2))² + n/2 at x, a position or an
    array of them (iac, discover.go:41-43)."""
    return -((np.sqrt(2.0 / n) * (x - n / 2.0)) ** 2) + n / 2.0


def discover_segments_from_idx(mp_idx: np.ndarray) -> tuple[int, float, np.ndarray]:
    """CAC + global-min segmentation point (DiscoverSegments,
    matrixprofile.go:1382-1403). Ends are pinned to 1."""
    histo = arc_curve(mp_idx)
    n = histo.size
    pos = np.arange(n, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        cac = np.minimum(1.0, histo / iac(pos, n))
    if n > 0:
        cac[0] = min(1.0, float(n))
        cac[-1] = min(1.0, float(n))
    min_idx = int(np.argmin(cac))
    return min_idx, float(cac[min_idx]), cac
