"""Pan matrix profile: one profile per window size (reference pmp.go).

Window sizes are ordered by recursive binary split of [lower, upper]
(midpoint-spread priority) and truncated by sample_pct on that ORDER,
not on the sorted list (pmp.go:119-161) — a sampled pan-MP covers
spread-out windows first. Each window is one MatrixProfile.compute with
the caller's options, so every algorithm, sampling and output space of
the single-window profile applies per level; with MPX that is the
compiled diagonal sweep. ``operators.profile.pan_matrix_profile_distributed``
runs this class on each whole series.
"""

from __future__ import annotations

import json

import numpy as np

from .matrix_profile import MatrixProfile, MPOpts
from .util import binary_split

_MAXINT = np.iinfo(np.int64).max


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
