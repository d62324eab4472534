"""Deterministic synthetic signal generators (reference siggen/siggen.go).

Used to build the benchmark series (bench.py). Noise
takes an explicit seeded Generator (the reference uses the global
unseeded rand, siggen/siggen.go:88-94 — we require determinism).
"""

from __future__ import annotations

import numpy as np


def line(slope, offset, n: int) -> np.ndarray:
    """slope·i + offset  (siggen/siggen.go:79-85)."""
    return slope * np.arange(n, dtype=np.float64) + offset


def noise(amp, n: int, rng: np.random.Generator | int = 0) -> np.ndarray:
    """amp·(U[0,1) - 0.5), explicitly seeded (siggen/siggen.go:88-94)."""
    if not isinstance(rng, np.random.Generator):
        rng = np.random.default_rng(rng)
    return amp * (rng.random(n) - 0.5)


def add(*sigs: np.ndarray) -> np.ndarray:
    """Elementwise sum padded to the longest signal (siggen/siggen.go:98-112)."""
    max_len = max((len(s) for s in sigs), default=0)
    out = np.zeros(max_len)
    for s in sigs:
        out[: len(s)] += s
    return out


def append_sigs(first: np.ndarray, *sigs: np.ndarray) -> np.ndarray:
    """Concatenate signals (siggen/siggen.go:115-130)."""
    return np.concatenate([first, *sigs]) if sigs else np.asarray(first, dtype=np.float64)
