"""Property-based invariants (hypothesis) — deeper than the reference's
table-driven goldens (SURVEY.md §5): structural guarantees that must
hold for ANY input, not just fixtures."""

import shutil

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st
from numpy.lib.stride_tricks import sliding_window_view

from go_matrixprofile_spark.kernels import matrix_profile as mpm
from go_matrixprofile_spark.kernels.matrix_profile import (
    MatrixProfile,
    MPOpts,
    mpx_tile_partial,
)
from go_matrixprofile_spark.kernels.util import e2p, p2e

_MAXINT = np.iinfo(np.int64).max
_EPS = np.finfo(np.float64).eps


def series(min_n=12, max_n=80):
    return st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=64),
        min_size=min_n,
        max_size=max_n,
    ).map(lambda xs: np.asarray(xs, dtype=np.float64) + np.arange(len(xs)) * 1e-6)
    # the tiny ramp breaks constant windows so std > 0 (the IEEE
    # Inf/NaN semantics of constant windows are pinned separately by
    # the reference's own constant-series fixture)


def _well_conditioned(vals, w) -> bool:
    """Cross-path float comparisons are only meaningful when no window
    is near-constant relative to its magnitude: the (dot - w·µi·µj)
    cancellation error scales with (µ/σ)²·eps and dominates the (≈0)
    distances otherwise."""
    from go_matrixprofile_spark.kernels.util import mov_mean_std

    means, stds = mov_mean_std(vals, w)
    # near-zero distances carry sqrt-AMPLIFIED cancellation noise:
    # err(dist) ~ sqrt((mu/sigma)^2 * w * eps) — ratio 100 bounds it
    # near 4e-6, giving the 1e-4 assertions a ~25x margin
    return (
        bool(np.isfinite(stds).all())
        and stds.min() >= 1e-9
        and (np.abs(means).max() + 1.0) / stds.min() <= 100.0
    )


class TestProfileInvariants:
    @settings(max_examples=40, deadline=None)
    @given(series(), st.integers(min_value=2, max_value=8))
    def test_mpx_bounds_and_exclusion(self, vals, w):
        if vals.size < w + 4:
            return
        m = MatrixProfile(vals, None, w).compute(MPOpts(algorithm="mpx"))
        n_prof = vals.size - w + 1
        excl = max(1, w // 4)
        assert m.mp.size == n_prof
        # z-normalized Euclidean distance is bounded by 2*sqrt(w)
        finite = np.isfinite(m.mp)
        assert (m.mp[finite] >= -1e-9).all()
        assert (m.mp[finite] <= 2.0 * np.sqrt(w) + 1e-9).all()
        # neighbor indices in range and outside the exclusion zone
        valid = m.idx >= 0
        assert (m.idx[valid] < n_prof).all()
        offs = np.arange(n_prof)[valid]
        assert (np.abs(m.idx[valid] - offs) >= excl).all()

    @settings(max_examples=25, deadline=None)
    @given(series(), st.integers(min_value=2, max_value=6))
    def test_algorithms_agree(self, vals, w):
        """STOMP / STMP / MPX produce the same profile values (their
        exclusion zones differ — w/2 vs w/4 — so compare where both are
        defined: stomp == stmp exactly, mpx <= stomp + tolerance since
        MPX sees strictly more candidate pairs)."""
        if vals.size < w + 4 or not _well_conditioned(vals, w):
            return
        stomp = MatrixProfile(vals, None, w).compute(MPOpts(algorithm="stomp"))
        stmp = MatrixProfile(vals, None, w).compute(MPOpts(algorithm="stmp"))
        # the reference's own cross-algorithm tolerance (SURVEY.md §5)
        np.testing.assert_allclose(stomp.mp, stmp.mp, atol=1e-4, equal_nan=True)
        mpx = MatrixProfile(vals, None, w).compute(MPOpts(algorithm="mpx"))
        both = np.isfinite(stomp.mp) & np.isfinite(mpx.mp)
        assert (mpx.mp[both] <= stomp.mp[both] + 1e-4).all()

    @settings(max_examples=25, deadline=None)
    @given(series(min_n=20), st.integers(min_value=2, max_value=6))
    def test_stamp_anytime_upper_bound(self, vals, w):
        """STAMP's anytime property: a sampled profile is an elementwise
        UPPER bound of the full profile (each omitted row can only have
        lowered a cell), and sample_pct=1.0 equals STOMP."""
        if vals.size < w + 4 or not _well_conditioned(vals, w):
            return
        full = MatrixProfile(vals, None, w).compute(MPOpts(algorithm="stomp"))
        half = MatrixProfile(vals, None, w).compute(
            MPOpts(algorithm="stamp", sample_pct=0.5, seed=3)
        )
        both = np.isfinite(full.mp) & np.isfinite(half.mp)
        assert (half.mp[both] >= full.mp[both] - 1e-4).all()
        one = MatrixProfile(vals, None, w).compute(
            MPOpts(algorithm="stamp", sample_pct=1.0)
        )
        np.testing.assert_allclose(one.mp, full.mp, atol=1e-4, equal_nan=True)

    @settings(max_examples=30, deadline=None)
    @given(series(min_n=24), st.integers(min_value=2, max_value=6),
           st.integers(min_value=1, max_value=6))
    def test_update_equals_recompute(self, vals, w, n_new):
        if vals.size < w + 6 + n_new or not _well_conditioned(vals, w):
            return
        cut = vals.size - n_new
        inc = MatrixProfile(vals[:cut].copy(), None, w).compute(
            MPOpts(algorithm="stomp")
        )
        inc.update(vals[cut:])
        full = MatrixProfile(vals, None, w).compute(MPOpts(algorithm="stomp"))
        np.testing.assert_allclose(inc.mp, full.mp, atol=1e-4, equal_nan=True)


def _make_series(kind: str, n: int, w: int, offset: float, seed: int) -> np.ndarray:
    """walk: random walk plus noise. const: a walk with a constant run of
    w..2w integer points (exactly constant windows). ties: integers in
    {0, 1, 2}, so many windows repeat and correlations tie exactly."""
    rng = np.random.default_rng(seed)
    if kind == "ties":
        x = rng.integers(0, 3, n).astype(np.float64)
    else:
        x = rng.normal(0, 1, n).cumsum() + rng.normal(0, 1, n)
        if kind == "const":
            s = int(rng.integers(0, n))
            x[s : s + int(rng.integers(w, 2 * w + 1))] = np.floor(x[s])
    return x + offset


@st.composite
def _drawn_series(draw, w, kinds):
    n = draw(st.one_of(st.just(w + 1), st.integers(min_value=w + 1, max_value=96)))
    kind = draw(st.sampled_from(kinds))
    offset = draw(st.sampled_from([0.0, 1e3, 1e6]))
    seed = draw(st.integers(min_value=0, max_value=2**32 - 1))
    return _make_series(kind, n, w, offset, seed), kind


@st.composite
def mp_input(draw, kinds=("walk", "const", "ties"), n_series=1):
    """(w, [(series, kind), ...]): means up to 1e6, n = w + 1 drawn often."""
    w = draw(st.integers(min_value=2, max_value=16))
    return w, [draw(_drawn_series(w, kinds)) for _ in range(n_series)]


def _windows(x, w):
    z = sliding_window_view(x, w)
    z = z - z.mean(axis=1, keepdims=True)
    return z, np.sqrt((z * z).sum(axis=1))


def _brute_corr(a, b, w) -> np.ndarray:
    """O(n²·w) Pearson correlation of every (a window, b window) pair.
    A constant window correlates 0 with everything (MuInvN's guard)."""
    za, na = _windows(a, w)
    zb, nb = _windows(b, w)
    ia = np.divide(1.0, na, out=np.zeros_like(na), where=na > 0)
    ib = np.divide(1.0, nb, out=np.zeros_like(nb), where=nb > 0)
    return (za @ zb.T) * ia[:, None] * ib[None, :]


def _tol(w, *series, power=1):
    """Corr-space error bound eps·n·(max|x| / min window std)^power. The
    diagonal recurrence (MPX, tiles, AB) measured ≤ 0.42x this bound with
    power 1; STOMP's cumulative-sum statistics ≤ 0.31x with power 2."""
    stds = np.concatenate([_windows(x, w)[1] for x in series]) / np.sqrt(w)
    smin = stds[stds > 0].min() if (stds > 0).any() else 1.0
    n = sum(x.size for x in series)
    big = max(np.abs(x).max() for x in series)
    return 1e-12 + 8 * _EPS * n * (big / smin) ** power


def _assert_profile(corr, valid, mp, idx, w, tol, ties, empty_idx=_MAXINT):
    """A Euclidean profile (mp, idx) against the brute-force corr matrix
    (offset × neighbor) restricted to the valid pairs. Values agree within
    tol; the reported neighbor is valid and optimal within tol, and it is
    THE argmax wherever the best beats the runner-up by more than 2·tol
    (never on tie-heavy input). Offsets with no valid neighbor report inf
    (and empty_idx, unless None)."""
    cv = np.where(valid, corr, -np.inf)
    best = cv.max(axis=1)
    none = ~valid.any(axis=1)
    assert np.isinf(mp[none]).all()
    if empty_idx is not None:
        assert (idx[none] == empty_idx).all()
    rows = np.nonzero(~none)[0]
    got = 1.0 - mp[rows] ** 2 / (2.0 * w)
    np.testing.assert_allclose(got, np.minimum(best[rows], 1.0), rtol=0, atol=tol)
    j = idx[rows]
    assert ((j >= 0) & (j < corr.shape[1])).all()
    assert valid[rows, j].all()
    assert (corr[rows, j] >= best[rows] - tol).all()
    if not ties and rows.size:
        ranked = np.sort(cv[rows], axis=1)
        second = ranked[:, -2] if corr.shape[1] > 1 else np.full(rows.size, -np.inf)
        clear = best[rows] - second > 2 * tol
        assert (j[clear] == cv[rows].argmax(axis=1)[clear]).all()


def _max_by(n, offs, corr, idx, *ties):
    """Per offset, the (corr, idx) with the largest (corr, *ties) key —
    the max_by merge the Spark tile operators run."""
    order = np.lexsort(tuple(reversed(ties)) + (corr, offs))
    offs, corr, idx = offs[order], corr[order], idx[order]
    last = np.r_[np.nonzero(np.diff(offs))[0], offs.size - 1]
    assert np.array_equal(offs[last], np.arange(n))
    return corr[last], idx[last]


def _tiles_self(x, w, t):
    """Tiled self-join MPX merged like matrix_profile_chunked: max corr,
    then the earliest global diagonal, then the lower idx."""
    la = x.size - w + 1
    parts = []
    for r0 in range(0, la, t):
        for c0 in range(r0, la, t):
            mpr, idr, mpc, idc = mpx_tile_partial(
                x[r0 : r0 + t + w - 1], x[c0 : c0 + t + w - 1],
                r0, c0, min(t, la - r0), min(t, la - c0), w,
            )
            parts.append((r0, mpr, idr))
            if r0 != c0:
                parts.append((c0, mpc, idc))
    offs = np.concatenate([np.arange(o, o + p.size) for o, p, _ in parts])
    corr = np.concatenate([p for _, p, _ in parts])
    idx = np.concatenate([i for _, _, i in parts])
    corr, idx = _max_by(la, offs, corr, idx, -np.abs(idx - offs), -idx)
    return p2e(corr, w), idx


class TestDifferentialBruteForce:
    """Every MP path against an O(n²·w) brute-force Pearson profile, on
    offset-heavy (mean up to 1e6), constant-run, tie-heavy and n = w + 1
    series."""

    @settings(max_examples=60, deadline=None)
    @given(mp_input(), st.integers(min_value=1, max_value=40))
    def test_mpx_and_tiles(self, inp, t):
        w, [(x, kind)] = inp
        corr = _brute_corr(x, x, w)
        off, nb = np.indices(corr.shape)
        valid = np.abs(nb - off) >= max(1, w // 4)
        tol = _tol(w, x)
        m = MatrixProfile(x, None, w).compute(MPOpts())
        _assert_profile(corr, valid, m.mp, m.idx, w, tol, kind == "ties")
        mp, idx = _tiles_self(x, w, max(t, w))
        _assert_profile(corr, valid, mp, idx, w, tol, kind == "ties")

    @settings(max_examples=40, deadline=None)
    @given(mp_input(n_series=2))
    def test_ab_mpx(self, inp):
        w, [(a, kind_a), (b, kind_b)] = inp
        corr = _brute_corr(a, b, w)
        valid = np.ones(corr.shape, dtype=bool)
        tol = _tol(w, a, b)
        ties = "ties" in (kind_a, kind_b)
        m = MatrixProfile(a, b, w).compute(MPOpts())
        _assert_profile(corr, valid, m.mp, m.idx, w, tol, ties)
        _assert_profile(corr.T, valid.T, m.mpb, m.idxb, w, tol, ties)

    @settings(max_examples=40, deadline=None)
    @given(mp_input(kinds=("walk",)).filter(lambda inp: inp[1][0][0].mean() < 1e5))
    def test_stomp(self, inp):
        """STOMP keeps the reference's cumulative-sum window statistics, so
        its bound squares the conditioning. Walks only: constant windows
        are non-finite in STOMP by design (the reference's constant-series
        fixture); offset-heavy series are test_stomp_offset_heavy."""
        w, [(x, _)] = inp
        corr = _brute_corr(x, x, w)
        off, nb = np.indices(corr.shape)
        zone = w // 2
        # half-open zone [nb - zone, nb + zone) around each neighbor row
        valid = (nb - off <= -zone) | (nb - off > zone)
        m = MatrixProfile(x, None, w).compute(MPOpts(algorithm="stomp"))
        _assert_profile(corr, valid, m.mp, m.idx, w, _tol(w, x, power=2), False,
                        empty_idx=None)

    def test_stomp_offset_heavy(self):
        x, w = _make_series("walk", 64, 8, 1e6, 0), 8
        corr = _brute_corr(x, x, w)
        off, nb = np.indices(corr.shape)
        valid = (nb - off <= -(w // 2)) | (nb - off > w // 2)
        m = MatrixProfile(x, None, w).compute(MPOpts(algorithm="stomp"))
        _assert_profile(corr, valid, m.mp, m.idx, w, _tol(w, x), False, empty_idx=None)


def _assert_same_on_both_sweeps(run):
    """run() on every compiled sweep path this CPU runs (AVX and SSE2 on
    an AVX host) and on _diag_sweep_numpy return equal arrays, NaN-aware
    and dtype included."""
    compiled = mpm.diag_sweep
    if compiled is mpm._diag_sweep_numpy:
        if shutil.which("cc"):
            pytest.fail("a C compiler is on PATH but the compiled diag_sweep did not load")
        pytest.skip("no C compiler: the NumPy sweep is the only one")
    try:
        mpm.diag_sweep = mpm._diag_sweep_numpy
        want = run()
        for path, sweep in mpm._SWEEPS.items():
            mpm.diag_sweep = sweep
            got = run()
            assert len(got) == len(want), path
            for g, w in zip(got, want):
                assert g.dtype == w.dtype, path
                assert np.array_equal(g, w, equal_nan=True), path
    finally:
        mpm.diag_sweep = compiled


def _self_join_ranges(x, w, starts, remap=False):
    """diag_sweep's self-join partials (mp, idx) over consecutive diagonal
    ranges: from the exclusion zone up to the first start, from each
    start up to the next, and from the last up to the final diagonal.
    Starts outside the swept diagonals are dropped."""
    xs = mpm._diff_streams(x, w)
    n = xs[0].size
    excl = max(1, w // 4)
    seeds = mpm._centered_seeds(x, x, xs[0], xs[0], w)
    bounds = [excl, *(d for d in starts if excl < d < n), n]
    out = []
    for d_lo, d_end in zip(bounds, bounds[1:]):
        if d_lo < d_end:
            mp, idx = mpm._partial(n)
            mpm.diag_sweep(xs, xs, seeds[d_lo:], d_lo, d_end - 1, mp, idx, mp, idx,
                           remap=remap)
            out += [mp, idx]
    return out


# the compiled sweep runs d >= 0 in groups of 8 diagonals from the first
# one it is given. With excl 1 a whole self-join's groups start at 1, 9,
# 17, ..., so ranges starting at 12, 28 and 48 begin inside them
_RANGE_STARTS = (12, 28, 48)


@st.composite
def _with_nonfinite(draw):
    """mp_input() with one value replaced by NaN, +inf or -inf."""
    w, [(x, kind)] = draw(mp_input())
    x = x.copy()
    x[draw(st.integers(min_value=0, max_value=x.size - 1))] = draw(
        st.sampled_from([np.nan, np.inf, -np.inf])
    )
    return w, [(x, kind)]


class TestCompiledSweepParity:
    """The compiled diag_sweep and _diag_sweep_numpy give the same bits
    on every MPX path, on TestDifferentialBruteForce's inputs."""

    @settings(max_examples=40, deadline=None)
    @given(mp_input())
    # 95 windows, excl 1: 94 diagonals, 11 groups and 6 left over; the
    # sub-range sweeps start at d = 12, 28, 48, inside the groups that
    # start at 9, 25, 41
    @example((2, [(_make_series("walk", 96, 2, 0.0, 7), "walk")]))
    # 8 windows, excl 1: 7 diagonals, fewer than one group
    @example((4, [(_make_series("ties", 11, 4, 1e3, 8), "ties")]))
    def test_self_join(self, inp):
        w, [(x, _)] = inp

        def run():
            out = []
            for remap in (False, True):
                for euclidean in (True, False):
                    m = MatrixProfile(x, None, w).compute(
                        MPOpts(remap_neg_corr=remap, euclidean=euclidean)
                    )
                    out += [m.mp, m.idx]
                out += _self_join_ranges(x, w, _RANGE_STARTS, remap)
            return out

        _assert_same_on_both_sweeps(run)

    @settings(max_examples=30, deadline=None)
    @given(mp_input(n_series=2))
    # 27 and 67 windows: one pass's diagonals all get shorter, the other's
    # keep 27 cells up to d = 40, so the group at 40 has a first diagonal
    # of 27 cells and a last of 20
    @example((4, [(_make_series("walk", 30, 4, 0.0, 9), "walk"),
                  (_make_series("const", 70, 4, 1e6, 10), "const")]))
    def test_ab_join(self, inp):
        """Both orders of the pair, so len(A) < len(B) and len(A) > len(B)
        whenever the lengths differ."""
        w, [(a, _), (b, _)] = inp

        def run():
            out = []
            for x, y in ((a, b), (b, a)):
                m = MatrixProfile(x, y, w).compute(MPOpts())
                out += [m.mp, m.idx, m.mpb, m.idxb]
            return out

        _assert_same_on_both_sweeps(run)

    @settings(max_examples=30, deadline=None)
    @given(mp_input(n_series=2), st.integers(min_value=1, max_value=40))
    # 17 windows in tiles of 4: the tile at (r0, c0) = (0, 4) sweeps
    # d_lo = max(-3, max(1, 4 // 4) - 4) = -3
    @example((4, [(_make_series("walk", 20, 4, 0.0, 1), "walk"),
                  (_make_series("ties", 20, 4, 1e3, 2), "ties")]), 4)
    def test_tiles(self, inp, t):
        """Self-join tiles off the diagonal sweep negative diagonals
        whenever their col range starts more than the exclusion zone
        past their row range."""
        w, [(a, _), (b, _)] = inp
        _assert_same_on_both_sweeps(
            lambda: [*_tiles_self(a, w, max(t, w)), *_tiles_self(b, w, max(t, w))]
        )

    @settings(max_examples=30, deadline=None)
    @given(_with_nonfinite(), st.integers(min_value=1, max_value=40))
    def test_nonfinite_input(self, inp, t):
        """Whatever NaN or ±inf input does to MPX (no policy yet), it
        does the same on both sweeps."""
        w, [(x, _)] = inp

        def run():
            m = MatrixProfile(x, None, w).compute(MPOpts())
            out = [m.mp, m.idx, *_self_join_ranges(x, w, _RANGE_STARTS)]
            m = MatrixProfile(x, x[::-1], w).compute(MPOpts())
            return out + [m.mp, m.idx, m.mpb, m.idxb, *_tiles_self(x, w, max(t, w))]

        _assert_same_on_both_sweeps(run)


class TestConversions:
    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
            min_size=1,
            max_size=50,
        ),
        st.integers(min_value=2, max_value=64),
    )
    def test_p2e_e2p_roundtrip(self, corrs, w):
        p = np.asarray(corrs)
        back = e2p(p2e(p, w), w)
        np.testing.assert_allclose(back, np.clip(p, 0.0, 1.0), atol=1e-9)


class TestCompression:
    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            min_size=1,
            max_size=200,
        )
    )
    def test_gorilla_roundtrip_bit_exact(self, xs):
        from go_matrixprofile_spark.functions.compress import (
            compress_values,
            decompress_values,
        )

        vals = np.asarray(xs, dtype=np.float64)
        back = decompress_values(compress_values(vals))
        # bit-exact including NaN payloads and infinities
        assert (
            vals.view(np.uint64) == np.asarray(back, dtype=np.float64).view(np.uint64)
        ).all()
