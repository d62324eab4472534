"""1-D matrix profile: STMP / STAMP / STOMP / MPX, discovery, MPDist, update.

NumPy reimplementation of the reference's MatrixProfile
(matrixprofile.go in matrix-profile-foundation/go-matrixprofile), with
the MPX hot loop compiled in C (see below). The
reference splits each join into goroutine batches merged over channels
(mergeMPResults, matrixprofile.go:607-661); here each join is one
vectorized pass, folded once into the result (_merge), which is the
reference at one goroutine. Inside Spark this module runs per conv_id
inside Arrow-batched pandas UDFs; 2-D tiles of one long series map to
separate Spark tasks (see operators/profile.py).

The MPX recurrence lives in ONE place, ``diag_sweep``: the self-join
(mpxBatch), both AB-join passes (mpxabBatch / mpxbaBatch) and the
distributed self-join tiles (``mpx_tile_partial``) are thin callers
that differ only in which streams, seeds and output arrays they pass.
``diag_sweep`` is diag_sweep.c, compiled with the host's ``cc`` once
per host into a cache dir and loaded through ctypes when this module is
imported (so a Spark driver builds it before any task runs and Python
workers only load it). The library runs 8 diagonals' correlation chains
as vector lanes, then each diagonal's compares in the one-loop order;
it holds an AVX and an SSE2 build of that (one portable build off
x86-64) and ``sweep_path`` names the widest this CPU runs. Where the
library cannot be built or loaded, ``diag_sweep`` is
``_diag_sweep_numpy``, the NumPy body every compiled path reproduces
bit for bit. The choice is logged once per process.

Parity-critical details preserved (see SURVEY.md §7.4):
- STOMP/STAMP/STMP min-update uses ``<=`` (latest row wins ties,
  matrixprofile.go:536/748/868); MPX uses strict ``>`` in Pearson space
  (earliest diagonal wins, matrixprofile.go:1038-1044).
- Exclusion zones: w/2 for STAMP/STOMP/STMP (matrixprofile.go:481,505),
  max(1, w/4) for MPX (matrixprofile.go:998-1001).
- Within one MPX diagonal a cell's diagonal-side update precedes its
  offset-side update (offset j-diag is visited before offset j), so
  diag_sweep applies the y-side (diagonal-side) mask first.
- mass divides by b_std without a zero-guard (matrixprofile.go:461);
  constant windows yield Inf/NaN exactly as in Go.
"""

from __future__ import annotations

import ctypes
import hashlib
import json
import logging
import os
import subprocess
import tempfile
from dataclasses import dataclass, field

import numpy as np

from .discover import discover_segments_from_idx
from .mass import calculate_distance_profile, cross_correlate, distance_profile
from .util import (
    apply_exclusion_zone,
    e2p,
    mov_mean_std,
    mu_invn,
    p2e,
)

log = logging.getLogger(__name__)

_MAXINT = np.iinfo(np.int64).max


@dataclass
class MPOpts:
    """Options mirroring MPOpts (matrixprofile.go:350-370).

    Defaults: MPX, sample 1.0, Euclidean. The reference's NJobs
    (goroutine count) has no counterpart: each join runs as one pass
    in one thread, and parallelism comes from Spark tasks, one per
    series or per SCAMP tile of one long series
    (operators.profile.matrix_profile_chunked; Zimmerman et al., SoCC
    2019).
    ``seed`` is an extension: the reference's STAMP uses unseeded
    rand.Perm (matrixprofile.go:684), so its sampled output is
    irreproducible; we require a seed for determinism.
    """

    algorithm: str = "mpx"
    sample_pct: float = 1.0
    euclidean: bool = True
    remap_neg_corr: bool = False
    seed: int = 0


@dataclass
class MotifGroup:
    """A motif cluster: sorted member indices + seed pair distance (discover.go:9-12)."""

    idx: list[int] = field(default_factory=list)
    min_dist: float = 0.0


@dataclass
class AnalyzeOpts:
    """Defaults from NewAnalyzeOpts (analyze.go:5-20)."""

    k_motifs: int = 3
    r_motifs: float = 2.0
    k_discords: int = 3


class MatrixProfile:
    """Self- or AB-join matrix profile task (matrixprofile.go:28-86)."""

    def __init__(self, a, b=None, w: int = 0):
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
        self.w = int(w)
        if b is None:
            self.b = a
            self.n = a.size
            self.self_join = True
        else:
            self.b = b
            self.n = b.size
            self.self_join = False
        if self.w > self.a.size or self.w > self.b.size:
            raise ValueError("subsequence length must be less than the timeseries")
        if self.w < 2:
            raise ValueError("subsequence length must be at least 2")
        self.av = "default"
        self.opts: MPOpts | None = None
        self.mp: np.ndarray | None = None
        self.idx: np.ndarray | None = None
        self.mpb: np.ndarray | None = None
        self.idxb: np.ndarray | None = None
        self.motifs: list[MotifGroup] = []
        self.discords: list[int] = []
        # caches (initCaches, matrixprofile.go:400-420)
        self._a_mean = self._a_std = self._b_mean = self._b_std = None
        self._bf = None

    # ------------------------------------------------------------------ caches

    def _init_caches(self) -> None:
        self._b_mean, self._b_std = mov_mean_std(self.b, self.w)
        self._a_mean, self._a_std = mov_mean_std(self.a, self.w)
        self._bf = np.fft.rfft(self.b)

    # ----------------------------------------------------------------- compute

    def compute(self, opts: MPOpts | None = None) -> "MatrixProfile":
        """Dispatch per Compute (matrixprofile.go:373-396)."""
        if opts is None:
            opts = MPOpts()
        self.opts = opts
        if opts.sample_pct < 1:
            self._stamp()
            return self
        algo = opts.algorithm
        if algo == "stomp":
            self._stomp()
        elif algo == "stamp":
            self._stamp()
        elif algo == "stmp":
            self._stmp()
        elif algo == "mpx":
            self._mpx()
        else:
            raise ValueError(f"Unsupported algorithm for matrix profile, {algo}")
        return self

    def _alloc(self, length: int) -> tuple[np.ndarray, np.ndarray]:
        return np.full(length, np.inf), np.full(length, _MAXINT, dtype=np.int64)

    def _merge(self, bmp, bidx, bmpb=None, bidxb=None, euclidean: bool = True) -> None:
        """Fold one partial into the result (mergeMPResults,
        matrixprofile.go:607-661). A NaN cell never wins the compare, so
        it comes out as the empty cell: distance inf (corr -inf) and idx
        MAXINT."""
        for part, pidx, mp, idx in ((bmp, bidx, self.mp, self.idx),
                                    (bmpb, bidxb, self.mpb, self.idxb)):
            if part is None:
                continue
            m = part <= mp if euclidean else np.abs(part) < np.abs(mp)
            mp[m] = part[m]
            idx[m] = pidx[m]

    # STMP — naive O(n² log n) ordered join (matrixprofile.go:514-544)
    def _stmp(self) -> None:
        self._init_caches()
        n_prof = self.n - self.w + 1
        self.mp, self.idx = self._alloc(n_prof)
        for i in range(self.a.size - self.w + 1):
            prof = distance_profile(
                self.a, self.b, self.w, i, self._b_std, self.self_join, self._bf
            )
            m = prof <= self.mp
            self.mp[m] = prof[m]
            self.idx[m] = i
        return

    # STAMP — randomly ordered anytime join (matrixprofile.go:668-756)
    def _stamp(self) -> None:
        if self.opts.sample_pct <= 0.0:
            raise ValueError(
                f"must provide a sampling greater than 0 and at most 1, sample: {self.opts.sample_pct:.3f}"
            )
        self._init_caches()
        n_prof = self.n - self.w + 1
        self.mp, self.idx = self._alloc(n_prof)
        rows = self.a.size - self.w + 1
        rand_idx = np.random.default_rng(self.opts.seed).permutation(rows)
        for row in rand_idx[: int((rows + 1) * self.opts.sample_pct)]:
            prof = distance_profile(
                self.a, self.b, self.w, int(row), self._b_std, self.self_join, self._bf
            )
            m = prof <= self.mp
            self.mp[m] = prof[m]
            self.idx[m] = row

    # STOMP — ordered O(n²) with incremental dot recurrence (matrixprofile.go:763-876)
    def _stomp(self) -> None:
        """Runs on each series minus its mean. Pearson is shift-invariant,
        and centering keeps the reference's cumulative-sum window
        statistics and uncentered dot - w·μ·μ from cancelling on series
        with a large mean."""
        a = _centered(self.a)
        b = a if self.self_join else _centered(self.b)
        w = self.w
        n, n_prof = self.n, self.n - w + 1
        (a_mean, a_std), (b_mean, b_std) = mov_mean_std(a, w), mov_mean_std(b, w)
        self.mp, self.idx = self._alloc(n_prof)
        dot = cross_correlate(a[:w], b, np.fft.rfft(b))
        mp = calculate_distance_profile(dot, 0, w, a_mean, a_std, b_mean, b_std, self.self_join)
        mpidx = np.zeros(mp.size, dtype=np.int64)
        # preallocated buffers for the O(1)-per-cell row recurrence
        # (dot[j] = dot[j-1] - B[j-1]·A[row-1] + B[j+w-1]·A[row+w-1],
        # matrixprofile.go:851-862) and the distance conversion
        dot2 = np.empty(n_prof)
        t1 = np.empty(n_prof)
        t2 = np.empty(n_prof)
        diff = np.empty(n_prof - 1)
        tb = np.empty(n_prof - 1)
        b_head = b[: n - w]
        b_tail = b[w:n]
        wbm = float(w) * b_mean
        wbs = float(w) * b_std
        two_w = 2.0 * float(w)
        zone = w // 2
        for row in range(1, a.size - w + 1):
            np.multiply(b_tail, a[row + w - 1], out=diff)
            np.multiply(b_head, a[row - 1], out=tb)
            diff -= tb
            np.add(dot[:-1], diff, out=dot2[1:])
            # first cell recomputed fresh (cache shortcut breaks on AB-joins)
            dot2[0] = np.dot(a[row : row + w], b[:w])
            dot, dot2 = dot2, dot
            # distance: sqrt(2w·|1 - (dot - w·μB·μA_i)/(w·σB·σA_i)|)
            np.multiply(wbm, a_mean[row], out=t1)
            np.subtract(dot, t1, out=t1)
            np.multiply(wbs, a_std[row], out=t2)
            with np.errstate(divide="ignore", invalid="ignore"):
                t1 /= t2
                np.subtract(1.0, t1, out=t1)
                np.abs(t1, out=t1)
                t1 *= two_w
                np.sqrt(t1, out=t1)
            if self.self_join:
                apply_exclusion_zone(t1, row, zone)
            upd = np.nonzero(t1 <= mp)[0]
            if upd.size:
                mp[upd] = t1[upd]
                mpidx[upd] = row
        self._merge(mp, mpidx)

    # MPX — diagonal-traversal Pearson-space join (matrixprofile.go:878-1198)
    def _mpx(self) -> None:
        """A self-join is one diag_sweep over every diagonal past the
        exclusion zone; an AB join is two, one per side the diagonals
        start on. Each sweep's partial folds into the result (_merge)."""
        w, opts = self.w, self.opts
        # Pearson space starts from the empty partial so that a cell with
        # no neighbor stays corr -inf (distance inf) through the |corr| merge
        alloc = self._alloc if opts.euclidean else _partial
        xa = _diff_streams(self.a, w)
        len_a = xa[0].size
        self.mp, self.idx = alloc(len_a)

        def finish(mp):
            return p2e(mp, w) if opts.euclidean else mp

        if self.self_join:
            # one array as both sides: the y-side (diagonal-side) touch of a
            # cell precedes its x-side touch, Go's order (mpxBatch)
            excl = max(1, w // 4)
            seeds = _centered_seeds(self.a, self.a, xa[0], xa[0], w)
            mp, idx = _partial(len_a)
            diag_sweep(xa, xa, seeds[excl:], excl, len_a - 1, mp, idx, mp, idx,
                       remap=opts.remap_neg_corr)
            self._merge(finish(mp), idx, euclidean=opts.euclidean)
            return

        xb = _diff_streams(self.b, w)
        self.mpb, self.idxb = alloc(xb[0].size)
        passes = (
            ((xb, self.b), (xa, self.a)),  # AB (mpxabBatch): diagonals start in A
            ((xa, self.a), (xb, self.b)),  # BA (mpxbaBatch): diagonals start in B
        )
        for (xs, x), (ys, y) in passes:
            # Go's per-diagonal dot seeds; seeding the scan with them makes it
            # accumulate serially like Go's c +=
            first = x[:w] - xs[0][0]
            ly = ys[0].size
            seeds = [np.dot(y[d : d + w] - ys[0][d], first) for d in range(ly)]
            px, py = _partial(xs[0].size), _partial(ly)
            diag_sweep(xs, ys, seeds, 0, ly - 1, *px, *py, remap=opts.remap_neg_corr)
            (mpa, ia), (mpb, ib) = (py, px) if ys is xa else (px, py)
            self._merge(finish(mpa), ia, finish(mpb), ib, opts.euclidean)

    # -------------------------------------------------------------- streaming

    def update(self, new_values) -> "MatrixProfile":
        """Append points, recompute only the last distance profile.

        matrixprofile.go:548-593. The min-scan deliberately excludes the
        new point's own cell (loop bound len(profile)-1), which is then
        argmin-filled. Equivalence with a full stomp() recompute is the
        reference's own contract (matrixprofile_test.go:706-762).

        Boundary-pair correction (reference artifact NOT replicated,
        like pmp.go's array overrun): the half-open exclusion zone
        [idx-z, idx+z) makes the pair (new-z, new) visible only from
        row new-z — a row Update never recomputes — while the full
        recompute sees it, so Go's own Update silently violates its
        equivalence contract whenever the new window's nearest neighbor
        sits at exactly w/2. We evaluate that single pair explicitly.
        """
        for val in np.atleast_1d(np.asarray(new_values, dtype=np.float64)):
            if self.self_join:
                self.a = np.append(self.a, val)
                self.b = self.a
            else:
                self.b = np.append(self.b, val)
            self.n += 1
            self.mp = np.append(self.mp, np.inf)
            self.idx = np.append(self.idx, _MAXINT)
            self._init_caches()
            profile = distance_profile(
                self.a, self.b, self.w, self.a.size - self.w, self._b_std, self.self_join, self._bf
            )
            head = profile[:-1]
            m = head <= self.mp[:-1]
            self.mp[:-1][m] = head[m]
            self.idx[:-1][m] = self.n - self.w
            min_idx = int(np.argmin(head)) if head.size else _MAXINT
            self.mp[self.n - self.w] = head[min_idx] if head.size else np.inf
            self.idx[self.n - self.w] = min_idx
            if self.self_join:
                zone = self.w // 2
                q = self.n - self.w
                p = q - zone
                if zone > 0 and p >= 0:
                    w_ = float(self.w)
                    dot = float(np.dot(self.a[p : p + self.w], self.a[q : q + self.w]))
                    with np.errstate(divide="ignore", invalid="ignore"):
                        d = np.sqrt(
                            2.0
                            * w_
                            * abs(
                                1.0
                                - (dot - w_ * self._b_mean[p] * self._b_mean[q])
                                / (w_ * self._b_std[p] * self._b_std[q])
                            )
                        )
                    # <= so an exact tie resolves to p: the recompute's
                    # STOMP merge is latest-row-wins (<=), and every head
                    # candidate for window q is a row j < q - zone = p, so
                    # on a tie the recompute reports p (r02 advisor item)
                    if d <= self.mp[q]:
                        self.mp[q] = d
                        self.idx[q] = p
        return self

    # -------------------------------------------------------------- discovery

    def apply_av(self) -> tuple[np.ndarray, np.ndarray]:
        """AV-corrected copies of MP / MPB (ApplyAV, matrixprofile.go:125-156)."""
        from .av import apply_single_av

        abmp = np.array(self.mp, dtype=np.float64, copy=True)
        bamp = (
            np.array(self.mpb, dtype=np.float64, copy=True)
            if self.mpb is not None
            else np.empty(0)
        )
        if not self.opts.euclidean:
            abmp = p2e(abmp, self.w)
            bamp = p2e(bamp, self.w)
        abmp = apply_single_av(abmp, self.a, self.w, self.av)
        if self.mpb is not None:
            bamp = apply_single_av(bamp, self.b, self.w, self.av)
        if not self.opts.euclidean:
            abmp = e2p(abmp, self.w)
            bamp = e2p(bamp, self.w)
        return abmp, bamp

    def discover_motifs(
        self, k: int, radius: float, neighbor_count: int = 10, exclusion_zone: int = 0
    ) -> list[MotifGroup]:
        """Greedy top-k motif groups (DiscoverMotifs, matrixprofile.go:1229-1333)."""
        if not self.self_join:
            raise ValueError("can only find top motifs if a self join is performed")
        if neighbor_count == 0:
            neighbor_count = 10
        motifs = [MotifGroup() for _ in range(k)]
        mp_current, _ = self.apply_av()
        if self._bf is None:
            self._init_caches()
        found = 0
        for j in range(k):
            motif_distance = np.inf
            min_idx = _MAXINT
            fin = np.where(mp_current < motif_distance)[0]
            if fin.size:
                min_idx = int(fin[np.argmin(mp_current[fin])])
                motif_distance = float(mp_current[min_idx])
            if min_idx == _MAXINT:
                # profile exhausted: reference returns the full k-length
                # slice with zero-value groups (matrixprofile.go:1269-1272)
                return motifs
            motif_set = {min_idx, int(self.idx[min_idx])}
            initial = [min_idx, int(self.idx[min_idx])]
            prof = distance_profile(
                self.a, self.b, self.w, initial[0], self._b_std, self.self_join, self._bf
            )
            apply_exclusion_zone(prof, initial[0], exclusion_zone)
            apply_exclusion_zone(prof, initial[1], exclusion_zone)
            for g in range(j, -1, -1):
                for m_idx in motifs[g].idx:
                    apply_exclusion_zone(prof, m_idx, exclusion_zone)
            while True:
                min_dist_idx = int(np.argmin(prof))
                if prof[min_dist_idx] < motif_distance * radius:
                    motif_set.add(min_dist_idx)
                    apply_exclusion_zone(prof, min_dist_idx, exclusion_zone)
                else:
                    break
                if len(motif_set) == neighbor_count:
                    break
            motifs[j] = MotifGroup(idx=sorted(motif_set), min_dist=motif_distance)
            for m_idx in motif_set:
                apply_exclusion_zone(mp_current, m_idx, exclusion_zone)
            found = j + 1
        self.motifs = motifs[:found]
        return self.motifs

    def discover_discords(self, k: int, exclusion_zone: int = 0) -> list[int]:
        """Greedy top-k discords (DiscoverDiscords, matrixprofile.go:1338-1374)."""
        mp_current, _ = self.apply_av()
        k = min(k, mp_current.size)
        discords: list[int] = []
        for _ in range(k):
            finite = ~np.isinf(mp_current)
            max_idx = None
            max_val = 0.0
            cand = np.where(finite & (mp_current > max_val))[0]
            if cand.size:
                max_idx = int(cand[np.argmax(mp_current[cand])])
            if max_idx is None:
                break
            discords.append(max_idx)
            apply_exclusion_zone(mp_current, max_idx, exclusion_zone)
        self.discords = discords
        return discords

    def discover_segments(self) -> tuple[int, float, np.ndarray]:
        """FLUSS segmentation over the profile index (matrixprofile.go:1382-1403)."""
        return discover_segments_from_idx(self.idx)

    def analyze(
        self, mo: MPOpts | None = None, ao: AnalyzeOpts | None = None
    ) -> tuple[list[MotifGroup], list[int]]:
        """Compute → motifs → discords (Analyze, matrixprofile.go:1203-1225).

        Visualization (matrixprofile.go:1224) is intentionally omitted;
        results come back as data (SURVEY.md §2.9).
        """
        self.compute(mo)
        if ao is None:
            ao = AnalyzeOpts()
        motifs = self.discover_motifs(ao.k_motifs, ao.r_motifs, 10, self.w // 2)
        discords = self.discover_discords(ao.k_discords, self.w // 2)
        return motifs, discords

    def visualize(self, filepath: str) -> None:
        """Render signal + profile + motif/discord markers to SVG
        (Visualize, matrixprofile.go:1406-1429; plotMP,
        visualize.go:86-127 — PNG via gonum/plot there, dependency-free
        SVG here)."""
        if self.mp is None:
            raise ValueError("matrix profile is not computed yet")
        from ..functions.visualize import render_profile_svg

        render_profile_svg(
            self.a, self.mp, self.w, self.motifs, self.discords, filepath
        )

    # ------------------------------------------------------------- persistence

    def to_json(self) -> str:
        """JSON snapshot, the reference's only storage format (matrixprofile.go:159-201)."""
        return json.dumps(
            {
                "a": self.a.tolist(),
                "b": None if self.self_join else self.b.tolist(),
                "n": self.n,
                "w": self.w,
                "self_join": self.self_join,
                "mp": None if self.mp is None else self.mp.tolist(),
                "pi": None if self.idx is None else self.idx.tolist(),
                "mp_ba": None if self.mpb is None else self.mpb.tolist(),
                "pi_ba": None if self.idxb is None else self.idxb.tolist(),
                "annotation_vector": self.av,
                "options": None
                if self.opts is None
                else {
                    "algorithm": self.opts.algorithm,
                    "sample_pct": self.opts.sample_pct,
                    "euclidean": self.opts.euclidean,
                    "remap_negative_correlation": self.opts.remap_neg_corr,
                },
            }
        )

    @classmethod
    def from_json(cls, payload: str) -> "MatrixProfile":
        d = json.loads(payload)
        mp = cls(np.array(d["a"]), None if d["b"] is None else np.array(d["b"]), d["w"])
        mp.av = d.get("annotation_vector", "default")
        if d.get("mp") is not None:
            mp.mp = np.array(d["mp"], dtype=np.float64)
            mp.idx = np.array(d["pi"], dtype=np.int64)
        if d.get("mp_ba") is not None:
            mp.mpb = np.array(d["mp_ba"], dtype=np.float64)
            mp.idxb = np.array(d["pi_ba"], dtype=np.int64)
        o = d.get("options")
        if o:
            mp.opts = MPOpts(
                algorithm=o["algorithm"],
                sample_pct=o["sample_pct"],
                euclidean=o["euclidean"],
                remap_neg_corr=o["remap_negative_correlation"],
            )
        return mp

    def save(self, filepath: str, fmt: str = "json") -> None:
        if fmt != "json":
            raise ValueError(f"invalid save format, {fmt}")
        with open(filepath, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, filepath: str, fmt: str = "json") -> "MatrixProfile":
        if fmt != "json":
            raise ValueError(f"invalid load format, {fmt}")
        with open(filepath) as f:
            return cls.from_json(f.read())


def compute_mp(a, b=None, w: int = 0, opts: MPOpts | None = None) -> MatrixProfile:
    """Convenience: New + Compute."""
    return MatrixProfile(a, b, w).compute(opts)


def _centered(x: np.ndarray) -> np.ndarray:
    """x minus the mean of its finite values rounded to an integer (x
    itself if it has none). The integer shift removes any large offset,
    and on integer-valued series the subtraction is exact, so windows
    that are shifted copies of one pattern keep exactly tied distances
    (the reference's motif fixture at text_len scale)."""
    fin = np.isfinite(x)
    return x - np.round(x[fin].mean()) if fin.any() else x


def _partial(n: int) -> tuple[np.ndarray, np.ndarray]:
    """An empty Pearson-space partial profile. A cell no diagonal reaches
    keeps corr -inf and idx MAXINT, i.e. distance inf: it has no neighbor
    outside the exclusion zone."""
    return np.full(n, -np.inf), np.full(n, _MAXINT, dtype=np.int64)


def _diff_streams(a: np.ndarray, w: int):
    """(mu, sig, df, dg) of every window of a (matrixprofile.go:904-919):
    df[i+1] = ½(a[w+i] - a[i]); dg[i+1] = (a[w+i] - mu[i+1]) + (a[i] - mu[i]).
    Every quantity is window-local, so a segment's streams equal the
    whole series' streams at the same positions."""
    mu, sig = mu_invn(a, w)
    n = mu.size
    df = np.zeros(n)
    dg = np.zeros(n)
    df[1:] = 0.5 * (a[w : w + n - 1] - a[: n - 1])
    dg[1:] = (a[w : w + n - 1] - mu[1:]) + (a[: n - 1] - mu[: n - 1])
    return mu, sig, df, dg


def _centered_seeds(x, y, mux, muy, w: int) -> np.ndarray:
    """c0[d] = <y[d:d+w] - muy[d], x[:w] - mux[0]> for every d, from one
    FFT sliding dot. Centering x before the FFT keeps the seeds exact on
    series with a large mean, where <x, y> - w·mux·muy cancels."""
    first = x[:w] - mux[0]
    return cross_correlate(first, y)[: muy.size] - muy * first.sum()


def _diag_sweep_numpy(xs, ys, seeds, d_lo, d_hi, mp_x, idx_x, mp_y, idx_y, x0=0, y0=0,
                      remap=False):
    """The MPX recurrence (mpxBatch, matrixprofile.go:996-1054), once.

    Walks the signed diagonals d = j - i for d in [d_lo, d_hi] ascending,
    where i indexes mp_x (x windows) and j indexes mp_y (y windows), so
    1 - mp_x.size <= d_lo and d_hi < mp_y.size. Each
    diagonal starts at cell (max(0, -d), max(0, d)) with correlation
    seeds[d - d_lo] and advances by c += df_x·dg_y + df_y·dg_x, scaled by
    sig_x·sig_y. xs / ys are _diff_streams of each side. Cells update in
    place with strict > (earliest diagonal wins ties), the y-side cell
    before the x-side cell: passing one array as both sides gives Go's
    diagonal-side-first self-join order. Reported neighbors are global
    indices: x0 + i on the y side, y0 + j on the x side.

    This NumPy body is the fallback when the compiled sweep
    (diag_sweep.c) cannot be built or loaded, and the reference the
    parity tests hold it to. Per diagonal it is one cumsum plus eight
    vector ops; the compiled sweep does the same arithmetic cell by
    cell, 8 diagonals at a time. Single-threaded on a 4-vCPU x86-64
    host it is 12x faster with AVX (6x with SSE2) at 16,384 points /
    w=128, and 28x (20x) at 1,000 / w=24.
    """
    _, sigx, dfx, dgx = xs
    _, sigy, dfy, dgy = ys
    nx, ny = mp_x.size, mp_y.size
    t1 = np.empty(min(nx, ny))
    t2 = np.empty_like(t1)
    for d, seed in zip(range(d_lo, d_hi + 1), seeds):
        i0, j0 = (0, d) if d >= 0 else (-d, 0)
        m = min(nx - i0, ny - j0)
        b1, b2 = t1[:m], t2[:m]
        np.multiply(dfx[i0 : i0 + m], dgy[j0 : j0 + m], out=b1)
        np.multiply(dfy[j0 : j0 + m], dgx[i0 : i0 + m], out=b2)
        b1 += b2
        b1[0] = seed  # the first cell carries the seed, no step
        np.cumsum(b1, out=b1)
        np.multiply(sigx[i0 : i0 + m], sigy[j0 : j0 + m], out=b2)
        b1 *= b2
        if remap:
            np.abs(b1, out=b1)
        seg = mp_y[j0 : j0 + m]
        upd = np.nonzero(b1 > seg)[0]
        if upd.size:
            seg[upd] = b1[upd]
            idx_y[j0 : j0 + m][upd] = upd + (x0 + i0)
        seg = mp_x[i0 : i0 + m]
        upd = np.nonzero(b1 > seg)[0]
        if upd.size:
            seg[upd] = b1[upd]
            idx_x[i0 : i0 + m][upd] = upd + (y0 + j0)


_C_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "diag_sweep.c")
# no -ffast-math or -march=native: no FMA contraction or reassociation, so
# the compiled sweep rounds exactly like the NumPy one
_CFLAGS = ("-O3", "-fPIC", "-shared", "-ffp-contract=off")


def _ptr(a, dtype, writeable: bool = False) -> int:
    """Address of a 1-D C-contiguous aligned array of dtype (writeable
    if asked), for the compiled sweep; TypeError for any other array."""
    f = a.flags
    if not (
        a.dtype == dtype and a.ndim == 1 and f.c_contiguous and f.aligned
        and (f.writeable or not writeable)
    ):
        raise TypeError(
            f"diag_sweep: want a 1-D C-contiguous aligned{' writeable' if writeable else ''} "
            f"{np.dtype(dtype)} array, got {a.dtype} ndim={a.ndim} "
            f"c_contiguous={f.c_contiguous} aligned={f.aligned} writeable={f.writeable}"
        )
    return a.ctypes.data


def _c_sweep(fn, group: int):
    """Wrap one of the library's sweep paths with _diag_sweep_numpy's
    signature; group is the library's diag_sweep_group."""
    p, i64 = ctypes.c_void_p, ctypes.c_int64
    fn.argtypes = [p, p, p, i64, p, p, p, i64, p, i64, i64,
                   p, p, p, p, i64, i64, ctypes.c_int, p]
    fn.restype = None
    f8, i8 = np.dtype(np.float64), np.dtype(np.int64)

    def diag_sweep(xs, ys, seeds, d_lo, d_hi, mp_x, idx_x, mp_y, idx_y, x0=0, y0=0,
                   remap=False):
        """_diag_sweep_numpy compiled (diag_sweep.c): the same cells in the
        same order with the same float operations, hence the same bits.
        Every array is checked here once and passed as a raw pointer:
        TypeError unless 1-D, C-contiguous and aligned, float64 (idx
        arrays int64), the four outputs writeable. The bounds C would
        index by are checked here too (ValueError). The scratch C writes
        to is allocated here, at the size it needs: (group + 1) *
        min(nx, ny) doubles for the kept correlation rows and their cell
        indices."""
        seeds = np.asarray(seeds, dtype=np.float64)
        nx, ny = mp_x.size, mp_y.size
        if d_lo <= d_hi and not (
            1 - nx <= d_lo
            and d_hi < ny
            and seeds.size > d_hi - d_lo
            and idx_x.size == nx
            and idx_y.size == ny
            and min(a.size for a in xs[1:]) >= nx
            and min(a.size for a in ys[1:]) >= ny
        ):
            raise ValueError(
                f"diag_sweep: diagonals [{d_lo}, {d_hi}] with {seeds.size} seeds do "
                f"not fit profiles of {nx} x {ny} windows and their streams"
            )
        # a self-join passes the same arrays as both sides: their
        # addresses are taken once
        in_x = [_ptr(a, f8) for a in xs[1:]]
        in_y = in_x if ys is xs else [_ptr(a, f8) for a in ys[1:]]
        out_x = (_ptr(mp_x, f8, True), _ptr(idx_x, i8, True))
        out_y = out_x if mp_y is mp_x and idx_y is idx_x else (
            _ptr(mp_y, f8, True), _ptr(idx_y, i8, True))
        # a name keeps the scratch alive through the call: only its
        # address goes to C
        scratch = np.empty((group + 1) * min(nx, ny))
        fn(*in_x, nx, *in_y, ny, _ptr(seeds, f8), d_lo, d_hi, *out_x, *out_y,
           x0, y0, bool(remap), scratch.ctypes.data)

    return diag_sweep


def _c_sweeps(lib: ctypes.CDLL) -> dict:
    """{path: wrapped sweep} for the library's paths this CPU runs, as
    diag_sweep_paths names them, best first."""
    group = ctypes.c_int.in_dll(lib, "diag_sweep_group").value
    lib.diag_sweep_paths.argtypes = []
    lib.diag_sweep_paths.restype = ctypes.c_char_p
    paths = lib.diag_sweep_paths().decode().split()
    return {p: _c_sweep(getattr(lib, f"diag_sweep_{p}"), group) for p in paths}


def _load_sweeps(cc: str = "cc", cache_dir: str | None = None) -> dict:
    """{path: sweep} for the compiled sweep paths this CPU runs, best
    first ("avx", "sse2"; "generic" off x86-64), or {"numpy":
    _diag_sweep_numpy} when the library cannot be built or loaded (no
    compiler, a cache dir that cannot be written). The library is built
    once per host into cache_dir (default
    ${XDG_CACHE_HOME:-~/.cache}/go_matrixprofile_spark) under a name keyed
    by a hash of the C source and flags; it is compiled to a temp file
    and renamed into place, so processes that build it at the same
    time are safe. Logs the choice: INFO with the library path and the
    path dispatched to, or one WARNING with the reason."""
    if cache_dir is None:
        base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
        cache_dir = os.path.join(base, "go_matrixprofile_spark")
    try:
        with open(_C_SOURCE, "rb") as f:
            key = hashlib.sha256(f.read() + " ".join(_CFLAGS).encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"diag_sweep-{key}.so")
        if not os.path.exists(path):
            _build(cc, path)
        sweeps = _c_sweeps(ctypes.CDLL(path))
    except OSError as e:
        log.warning("diag_sweep: NumPy fallback: %s", e)
        return {"numpy": _diag_sweep_numpy}
    log.info("diag_sweep: C %s (%s)", path, next(iter(sweeps)))
    return sweeps


def _build(cc: str, path: str) -> None:
    """Compile _C_SOURCE to path via a temp file in the same dir."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    os.close(fd)
    try:
        r = subprocess.run([cc, *_CFLAGS, "-o", tmp, _C_SOURCE],
                           capture_output=True, text=True)
        if r.returncode:
            raise OSError(f"{cc} exited with {r.returncode}: {r.stderr.strip()}")
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


# Built (once per host) and loaded at import, so a Spark driver that
# imports this module has the library in the cache before any task runs
# and Python workers only dlopen it. sweep_path names the one dispatched to.
_SWEEPS = _load_sweeps()
sweep_path, diag_sweep = next(iter(_SWEEPS.items()))


def mpx_tile_partial(
    x: np.ndarray,
    y: np.ndarray,
    r0: int,
    c0: int,
    n_row: int,
    n_col: int,
    w: int,
    remap_neg_corr: bool = False,
):
    """SCAMP-style 2-D tile partial of the MPX self-join.

    The distributed decomposition for long series: instead of shipping
    the WHOLE series to every diagonal-batch task (shuffle volume B×n
    and a single-row assembly that hits Spark's 2 GiB ceiling around
    10^8 points), the distance matrix is tiled into (row-range ×
    col-range) blocks and each task receives only the two O(T + w)
    segments its block touches.

    x covers global positions [r0, r0 + n_row + w - 1) of the series;
    y covers [c0, c0 + n_col + w - 1); c0 >= r0 (upper triangle). The
    tile computes corr for all pairs (gi, gj) with gi in the row range,
    gj in the col range and gj - gi >= excl = max(1, w//4) — the MPX
    exclusion zone (matrixprofile.go:998-1001). A diagonal tile
    (r0 == c0) sweeps into ONE array, exactly like the whole-series
    kernel, and returns it as both the row and the col partial. An
    off-diagonal tile whose col range starts more than excl past its
    row range also holds cells below its own corner diagonal, swept as
    negative tile diagonals.

    Seeds are _centered_seeds of each side (two FFTs when the tile has
    negative diagonals) and the sweep is diag_sweep in ascending global
    diagonal order.

    Returns (mp_row, idx_row, mp_col, idx_col): Pearson-space partial
    profiles for the tile's row / col offset ranges, neighbor indices
    GLOBAL. Callers convert with p2e and merge partials by max-corr.
    """
    x = np.ascontiguousarray(x, dtype=np.float64)
    y = np.ascontiguousarray(y, dtype=np.float64)
    nr = max(min(n_row, x.size - w + 1), 0)
    nc = max(min(n_col, y.size - w + 1), 0)
    one = r0 == c0
    mp_row, idx_row = _partial(nr)
    mp_col, idx_col = (mp_row, idx_row) if one else _partial(nc)
    d_lo = max(-(nr - 1), max(1, w // 4) - (c0 - r0))
    d_hi = nc - 1
    if nr == 0 or nc == 0 or d_lo > d_hi:
        return mp_row, idx_row, mp_col, idx_col

    xs = _diff_streams(x, w)
    ys = xs if one else _diff_streams(y, w)
    seeds = _centered_seeds(x, y, xs[0], ys[0], w)[max(d_lo, 0) : d_hi + 1]
    if d_lo < 0:
        # diagonal d < 0 starts at cell (-d, 0)
        neg = _centered_seeds(y, x, ys[0], xs[0], w)
        seeds = np.concatenate((neg[-d_lo:0:-1], seeds))
    diag_sweep(xs, ys, seeds, d_lo, d_hi, mp_row, idx_row, mp_col, idx_col, r0, c0, remap_neg_corr)
    return mp_row, idx_row, mp_col, idx_col


def mpdist(a, b, w: int, opts: MPOpts | None = None, av: str = "default") -> float:
    """Matrix-profile distance between two series (MPDist, matrixprofile.go:243-338).

    k = 0.05·(len a + len b); returns the k-th smallest (0-indexed) of
    the concatenated AB/BA AV-corrected profiles, or the global max
    (Euclidean) / min (Pearson) when the profiles are shorter than k.
    """
    mp = MatrixProfile(a, b, w)
    mp.av = av
    mp.compute(opts)
    mpab, mpba = mp.apply_av()

    k = int(0.05 * (np.asarray(a).size + np.asarray(b).size))
    vals = np.concatenate([mpab, mpba])
    euclidean = mp.opts.euclidean
    if k < vals.size:
        if not euclidean:
            vals = -vals
        res = np.partition(vals, k)[k]
        return float(-res) if not euclidean else float(res)
    # degenerate path: trackVal starts at 0 (Euclidean) / 1 (Pearson)
    # (matrixprofile.go:308-311)
    track = 0.0 if euclidean else 1.0
    for d in np.concatenate([mp.mp, mp.mpb if mp.mpb is not None else np.empty(0)]):
        if euclidean:
            track = max(track, d)
        else:
            track = min(track, d)
    return float(track)
