"""Pan matrix profile: one profile per window size (reference pmp.go).

Window sizes are ordered by recursive binary split of [lower, upper]
(midpoint-spread priority) and truncated by sample_pct on that ORDER,
not on the sorted list (pmp.go:119-161) — a sampled pan-MP covers
spread-out windows first.
"""

from __future__ import annotations

import json

import numpy as np

from .matrix_profile import MatrixProfile, MPOpts
from .util import binary_split, mu_invn, p2e

_MAXINT = np.iinfo(np.int64).max


def pmp_fused(
    a: np.ndarray, windows, opts: MPOpts | None = None
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Multi-window MPX self-join sharing per-diagonal product scans.

    The faithful pan-MP kernel (PMP.compute → MatrixProfile._mpx,
    pmp.go:119-161) recomputes every diagonal's dot stream from scratch
    for EVERY window size. Here the pair products a[k]·a[k+d] and their
    prefix sum are computed once per diagonal d and each window's
    centered correlation derives from range sums of that shared scan:

        Q_w(i) = P_d[i+w-1] - P_d[i-1]           (raw sliding dot)
        c_w(i) = Q_w(i) - w·mu_w(i)·mu_w(i+d)    (centering identity)
        corr   = c_w(i) · inv_w(i) · inv_w(i+d)

    The series is globally centered (a ← a − mean(a)) before the product
    scan: Pearson of z-normalized windows is shift-invariant, and without
    the shift the Q − w·mu·mu subtraction catastrophically cancels for
    series with large mean/std ratio (17% relative error at mean≈1e6,
    total corruption at 1e9 vs the faithful df/dg kernel). With the
    shift the two kernels agree to ≤5e-9 at mean 1e6 (pinned by pytest).

    Two wins over per-window compute: the shared product+cumsum pass
    amortizes across the window batch, and (the bigger one at fleet
    scale) the operator ships each conversation's array ONCE per window
    batch instead of once per window.

    Per-window semantics match _mpx: exclusion zone max(1, w//4),
    diagonals ascending with strict > (earliest diagonal wins ties,
    diagonal-side touch before offset-side), MuInvN zero-sigma guard,
    and (corr -inf, idx MAXINT) for offsets with no candidate outside
    the exclusion zone. Values differ from the faithful kernel only by
    accumulation order (direct range sums vs the df/dg recurrence,
    ~1e-12 relative); Go-fixture parity stays pinned on the faithful
    kernel, and equivalence of the two is pinned by pytest.

    It keeps its own loop rather than calling matrix_profile.diag_sweep:
    one product scan per diagonal serves every window, which the
    per-window df/dg recurrence cannot share.

    Returns {w: (mp, idx)} in Euclidean or Pearson space per opts.
    """
    opts = opts or MPOpts()
    a = np.ascontiguousarray(a, dtype=np.float64)
    # global centering: shift-invariant for z-normed Pearson, and required
    # to keep the Q - w*mu_i*mu_j subtraction numerically stable for
    # offset-heavy series (see docstring)
    a = a - a.mean()
    n = a.size
    ws = sorted({int(w) for w in windows})
    out: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    stats: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    mps: dict[int, np.ndarray] = {}
    idxs: dict[int, np.ndarray] = {}
    lens: dict[int, int] = {}
    excls: dict[int, int] = {}
    for w in ws:
        if w < 2 or w > n:
            raise ValueError(
                "subsequence length must be in [2, len(series)] for pan-MP"
            )
        la = n - w + 1
        excl = max(1, w // 4)
        stats[w] = mu_invn(a, w)
        mps[w] = np.full(la, -np.inf)
        idxs[w] = np.full(la, _MAXINT, dtype=np.int64)
        lens[w] = la
        excls[w] = excl
    if ws:
        remap = opts.remap_neg_corr
        d_lo = min(excls[w] for w in ws)
        d_hi = max(lens[w] for w in ws) - 1
        prod = np.empty(n - d_lo)
        for d in range(d_lo, d_hi + 1):
            m = n - d
            np.multiply(a[:m], a[d:], out=prod[:m])
            pref = np.cumsum(prod[:m])
            for w in ws:
                la, excl = lens[w], excls[w]
                if d < excl or d >= la:
                    continue
                omax = la - d
                mu, sig = stats[w]
                c = pref[w - 1 : w - 1 + omax].copy()
                c[1:] -= pref[: omax - 1]
                c -= float(w) * mu[:omax] * mu[d : d + omax]
                c *= sig[:omax]
                c *= sig[d : d + omax]
                if remap:
                    np.abs(c, out=c)
                mp, mpidx = mps[w], idxs[w]
                seg = mp[d : d + omax]
                upd = np.nonzero(c > seg)[0]
                if upd.size:
                    seg[upd] = c[upd]
                    mpidx[d + upd] = upd
                upd = np.nonzero(c > mp[:omax])[0]
                if upd.size:
                    mp[upd] = c[upd]
                    mpidx[upd] = upd + d
        for w in ws:
            mp = mps[w]
            if opts.euclidean:
                mp = p2e(mp, w)
            out[w] = (mp, idxs[w])
    return out


class PMP:
    """Pan-MP task over a window range (pmp.go:15-44)."""

    def __init__(self, a, b=None):
        a = np.ascontiguousarray(a, dtype=np.float64)
        if a.size == 0:
            raise ValueError("first slice is nil or has a length of 0")
        if b is not None:
            b = np.ascontiguousarray(b, dtype=np.float64)
            if b.size == 0:
                raise ValueError(
                    "second slice must be nil for self-join operation or have a length greater than 0"
                )
        self.a = a
        self.b = b
        self.self_join = b is None
        self.pmp: list[np.ndarray] = []
        self.pidx: list[np.ndarray] = []
        self.pwindows: list[int] = []
        self.lower_m = 0
        self.upper_m = 0

    def compute(self, lower_m: int, upper_m: int, mp_opts: MPOpts | None = None) -> "PMP":
        """pmp.go:110-161."""
        if lower_m > upper_m:
            upper_m = lower_m
        if mp_opts is None:
            mp_opts = MPOpts()
        self.lower_m, self.upper_m = lower_m, upper_m
        windows = binary_split(lower_m, upper_m)
        windows = windows[: int(len(windows) * mp_opts.sample_pct)]
        if len(windows) < 1:
            raise ValueError("Need more than one subsequence window for pmp")
        self.pwindows = windows

        # the reference allocates len(windows) levels but indexes them by
        # w-LowerM (pmp.go:127-137,156-157), which over-runs when sample_pct
        # truncates the list; allocate the full range instead (identical
        # at sample_pct=1.0, safe when sampled)
        n_levels = upper_m - lower_m + 1
        self.pmp = []
        self.pidx = []
        for i in range(n_levels):
            len_a = self.a.size - (i + lower_m) + 1
            self.pmp.append(np.full(len_a, np.inf))
            self.pidx.append(np.full(len_a, _MAXINT, dtype=np.int64))

        for w in windows:
            mp = MatrixProfile(self.a, self.b, w)
            mp.compute(mp_opts)
            level = w - lower_m
            self.pmp[level][: mp.mp.size] = mp.mp
            self.pidx[level][: mp.idx.size] = mp.idx
        return self

    def visualize(self, filepath: str) -> None:
        """Render the pan-profile heat panel (one row per window) to SVG."""
        if not self.pmp:
            raise ValueError("pan matrix profile is not computed yet")
        from ..functions.visualize import render_pmp_svg

        windows = list(range(self.lower_m, self.upper_m + 1))
        render_pmp_svg(self.pmp, windows, filepath)

    def to_json(self) -> str:
        """JSON snapshot (pmp.go:47-89)."""
        return json.dumps(
            {
                "a": self.a.tolist(),
                "b": None if self.b is None else self.b.tolist(),
                "self_join": self.self_join,
                "pmp": [p.tolist() for p in self.pmp],
                "pidx": [p.tolist() for p in self.pidx],
                "pwindows": self.pwindows,
                "lower_m": self.lower_m,
                "upper_m": self.upper_m,
            }
        )

    @classmethod
    def from_json(cls, payload: str) -> "PMP":
        d = json.loads(payload)
        p = cls(np.array(d["a"]), None if d["b"] is None else np.array(d["b"]))
        p.pmp = [np.array(x, dtype=np.float64) for x in d["pmp"]]
        p.pidx = [np.array(x, dtype=np.int64) for x in d["pidx"]]
        p.pwindows = d["pwindows"]
        p.lower_m = d["lower_m"]
        p.upper_m = d["upper_m"]
        return p

    def save(self, filepath: str, fmt: str = "json") -> None:
        if fmt != "json":
            raise ValueError(f"invalid save format, {fmt}")
        with open(filepath, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, filepath: str, fmt: str = "json") -> "PMP":
        if fmt != "json":
            raise ValueError(f"invalid load format, {fmt}")
        with open(filepath) as f:
            return cls.from_json(f.read())
