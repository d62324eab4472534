"""Vector primitives for matrix-profile computation.

Reimplements the semantics of the reference's util package
(/root/reference/util/util.go) in vectorized NumPy. Where the reference
uses compensated (Kahan-style) summation for numerical stability
(Sum2s util/util.go:139-170, MuInvN util/util.go:99-137) we use NumPy's
pairwise summation over explicit sliding windows, which achieves the
same or better float64 accuracy while staying vectorized; parity with
the Go golden fixtures is asserted at 1e-7 (MPX path 1e-4, matching the
reference's own test tolerances, matrixprofile_test.go:452/692).
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view


def z_normalize(ts: np.ndarray) -> np.ndarray:
    """(x - mean) / population-std.  util/util.go:13-42.

    Raises ValueError on empty input or zero standard deviation.
    """
    ts = np.asarray(ts, dtype=np.float64)
    if ts.size == 0:
        raise ValueError("slice does not have any data")
    out = ts - ts.mean()
    std = np.sqrt(np.mean(out * out))
    if std == 0:
        raise ValueError("standard deviation is zero")
    return out / std


def mov_mean_std(ts: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """Sliding mean + population std per window of m.  util/util.go:50-81.

    Uses the same cumulative-sum / cumulative-sum-of-squares formulation
    as the reference so float results are bit-comparable.
    """
    ts = np.asarray(ts, dtype=np.float64)
    if m <= 1:
        raise ValueError("length of slice must be greater than 1")
    if m > ts.size:
        raise ValueError("m cannot be greater than length of slice")
    c = np.concatenate(([0.0], np.cumsum(ts)))
    csqr = np.concatenate(([0.0], np.cumsum(ts * ts)))
    mean = (c[m:] - c[:-m]) / float(m)
    std = np.sqrt((csqr[m:] - csqr[:-m]) / float(m) - mean * mean)
    return mean, std


def apply_exclusion_zone(profile: np.ndarray, idx: int, zone: int) -> None:
    """In-place: profile[idx-zone : idx+zone] = +Inf.  util/util.go:85-97.

    Note the reference's half-open upper bound (< idx+zone, not <=).
    """
    start = max(0, idx - zone)
    end = min(len(profile), idx + zone)
    profile[start:end] = np.inf


def sum2s(a: np.ndarray, w: int) -> np.ndarray:
    """Sliding mean of window w.  util/util.go:139-170.

    The reference keeps a compensated running sum; we compute each
    window's sum with pairwise summation (sliding_window_view), which
    bounds error at O(eps·log w) — at least as accurate.
    """
    a = np.asarray(a, dtype=np.float64)
    if a.size < w:
        return np.empty(0)
    return _windowed_sum(a, w) / float(w)


def mu_invn(a: np.ndarray, w: int) -> tuple[np.ndarray, np.ndarray]:
    """Sliding mean + inverse L2 norm 1/sqrt(sum((x-mu)^2)).

    util/util.go:99-137. sig[i] = 0 when the window is constant
    (p+s == 0 in the reference), mirroring the zero-guard there.
    """
    a = np.asarray(a, dtype=np.float64)
    mu = sum2s(a, w)
    # Σ (x-μ)² per window, computed window-wise (chunked to bound memory).
    n_out = a.size - w + 1
    ssq = np.empty(n_out)
    chunk = max(1, int(4_000_000 // max(w, 1)))
    for s in range(0, n_out, chunk):
        e = min(s + chunk, n_out)
        win = sliding_window_view(a[s : e + w - 1], w)
        d = win - mu[s:e, None]
        ssq[s:e] = np.einsum("ij,ij->i", d, d)
    sig = np.zeros(n_out)
    nz = ssq != 0
    sig[nz] = 1.0 / np.sqrt(ssq[nz])
    return mu, sig


def _windowed_sum(a: np.ndarray, w: int) -> np.ndarray:
    """Exact-ish sliding window sum via pairwise summation, chunked."""
    n_out = a.size - w + 1
    out = np.empty(n_out)
    chunk = max(1, int(4_000_000 // max(w, 1)))
    for s in range(0, n_out, chunk):
        e = min(s + chunk, n_out)
        out[s:e] = sliding_window_view(a[s : e + w - 1], w).sum(axis=1)
    return out


def binary_split(lb: int, ub: int) -> list[int]:
    """Order [lb..ub] by recursive midpoints (BFS).  util/util.go:172-211.

    Used by the pan-matrix-profile to prioritize window sizes.
    """
    if ub < lb:
        return []
    res = [lb]
    if ub == lb:
        return res
    queue: list[tuple[int, int]] = [(lb + 1, ub)]
    while queue:
        lo, hi = queue.pop(0)
        mid = (hi + lo) // 2
        res.append(mid)
        if lo < hi:
            if mid - 1 >= lo:
                queue.append((lo, mid - 1))
            if hi >= mid + 1:
                queue.append((mid + 1, hi))
    return res


def p2e(mp: np.ndarray, w: int) -> np.ndarray:
    """Pearson → z-normalized Euclidean, capping rho at 1.  util/util.go:266-274."""
    capped = np.minimum(mp, 1.0)
    return np.sqrt(2.0 * float(w) * (1.0 - capped))


def e2p(mp: np.ndarray, w: int) -> np.ndarray:
    """Euclidean → Pearson, clamped to [0, 1].  util/util.go:279-290."""
    out = 1.0 - mp * mp / (2.0 * float(w))
    return np.clip(out, 0.0, 1.0)
