"""Golden-vector parity for the 1-D matrix profile algorithms.

Fixtures from /root/reference/matrixprofile_test.go (canonical series at
:419-421, MPX AB/remap at :631-653, constant-series at :548-549, MASS at
:233-236, crossCorrelate at :169-173). Tolerances mirror the reference:
1e-7 for STMP/STAMP/STOMP and primitives, 1e-4 for MPX
(matrixprofile_test.go:452/692).
"""

import logging
import platform
import shutil

import numpy as np
import pytest

from go_matrixprofile_spark.kernels import matrix_profile as mpm
from go_matrixprofile_spark.kernels import MatrixProfile, MPOpts, compute_mp, mpdist
from go_matrixprofile_spark.kernels.mass import cross_correlate, distance_profile, mass
from go_matrixprofile_spark.kernels.matrix_profile import mpx_tile_partial
from go_matrixprofile_spark.kernels.util import mov_mean_std, p2e

SIG = np.array([0.0, 0.99, 1.0, 0.0, 0.0, 0.98, 1.0, 0.0, 0.0, 0.96, 1.0, 0.0])
WANT_MP = np.array(
    [
        0.014355034678331376,
        0.014355034678269504,
        0.0291386974835963,
        0.029138697483626783,
        0.01435503467830044,
        0.014355034678393249,
        0.029138697483504856,
        0.029138697483474377,
        0.0291386974835963,
    ]
)
WANT_IDX = np.array([4, 5, 6, 7, 0, 1, 2, 3, 4])


class TestNew:
    # matrixprofile_test.go:13-42
    def test_empty_a(self):
        with pytest.raises(ValueError):
            MatrixProfile([], None, 2)

    def test_empty_b(self):
        with pytest.raises(ValueError):
            MatrixProfile([1, 2, 3], [], 2)

    def test_w_too_large(self):
        with pytest.raises(ValueError):
            MatrixProfile([1, 2, 3], None, 4)

    def test_w_too_small(self):
        with pytest.raises(ValueError):
            MatrixProfile([1, 2, 3], None, 1)

    def test_self_join_flag(self):
        mp = MatrixProfile([1, 2, 3, 4], None, 2)
        assert mp.self_join and mp.n == 4

    def test_ab_join(self):
        mp = MatrixProfile([1, 2, 3, 4], [1, 2, 3, 4, 5], 2)
        assert not mp.self_join and mp.n == 5


class TestCrossCorrelate:
    # matrixprofile_test.go:159-217
    @pytest.mark.parametrize(
        "q,t,want",
        [
            ([1, 2], [1, 2, 3, 3, 2, 1], [5, 8, 9, 7, 4]),
            ([1, 2], [1, 2, 3, 3, 2, 1, 1], [5, 8, 9, 7, 4, 3]),
            ([1, 2, 1], [1, 2, 3, 4, 3, 2, 1], [8, 12, 14, 12, 8]),
            ([1, 2, 1], [1, 2, 3, 4, 3, 2, 1, 1], [8, 12, 14, 12, 8, 5]),
        ],
    )
    def test_golden(self, q, t, want):
        got = cross_correlate(np.array(q, dtype=float), np.array(t, dtype=float))
        np.testing.assert_allclose(got, want, atol=1e-7)


class TestMass:
    # matrixprofile_test.go:219-278
    def test_golden(self):
        q = np.array([0.0, 1.0, 1.0, 0.0])
        t = np.array([0.0, 1, 1, 0, 0, 1, 1, 0, 0, 1, 1, 0])
        _, b_std = mov_mean_std(t, q.size)
        got = mass(q, t, b_std)
        want = [
            0,
            2.8284271247461903,
            4,
            2.8284271247461903,
            0,
            2.8284271247461903,
            4,
            2.8284271247461903,
            0,
        ]
        np.testing.assert_allclose(got, want, atol=1e-7)

    def test_near_zero_std_stress(self):
        # matrixprofile_test.go:233-236
        q = np.array([1.0, 1.0, 4.5, 4.5])
        t = np.array(
            [1e-6, 1e-5, 1e-5, 1e-5, 5, 5, 1e-5, 1e-5, 1e-5, 1e-5, 7, 7, 1e-5, 1e-5]
        )
        _, b_std = mov_mean_std(t, q.size)
        got = mass(q, t, b_std)
        assert got.size == t.size - q.size + 1
        assert np.isfinite(got).all()


class TestDistanceProfile:
    # matrixprofile_test.go:280-336: self-join exclusion zone w/2 at idx=0
    def test_exclusion_zone(self):
        t = np.array([0.0, 1, 1, 0, 0, 1, 1, 0, 0, 1, 1, 0])
        _, b_std = mov_mean_std(t, 4)
        prof = distance_profile(t, t, 4, 0, b_std, self_join=True)
        assert np.isinf(prof[0]) and np.isinf(prof[1])
        assert np.isfinite(prof[2:]).all()

    def test_idx_out_of_range(self):
        t = np.array([0.0, 1, 1, 0, 0, 1])
        _, b_std = mov_mean_std(t, 4)
        with pytest.raises(ValueError):
            distance_profile(t, t, 4, 9, b_std, self_join=True)


def _tiled_mpx(x, w, k, remap_neg_corr=False):
    """Self-join MPX split into SCAMP tiles, k per side, and merged like
    operators.profile.matrix_profile_chunked: max corr, then the
    earliest global diagonal, then the lower idx."""
    la = x.size - w + 1
    t = max(-(-la // k), w)
    best = [(-np.inf, -np.inf, -np.inf)] * la
    for r0 in range(0, la, t):
        for c0 in range(r0, la, t):
            mpr, idr, mpc, idc = mpx_tile_partial(
                x[r0 : r0 + t + w - 1], x[c0 : c0 + t + w - 1],
                r0, c0, min(t, la - r0), min(t, la - c0), w, remap_neg_corr,
            )
            sides = [(r0, mpr, idr)] + ([(c0, mpc, idc)] if r0 != c0 else [])
            for o, corr, idx in sides:
                for i, (c, j) in enumerate(zip(corr, idx), start=o):
                    best[i] = max(best[i], (c, -abs(int(j) - i), -int(j)))
    corr = np.array([b[0] for b in best])
    return p2e(corr, w), np.array([-b[2] for b in best], dtype=np.int64)


@pytest.mark.parametrize(
    "k,algo",
    [(1, "stmp"), (1, "stamp"), (1, "stomp"), (1, "mpx"), (2, "mpx"), (4, "mpx"), (100, "mpx")],
)
class TestCanonicalFixture:
    """matrixprofile_test.go:404-704 — identical MP/Idx for every
    algorithm and at every parallelism (the reference's n_jobs ∈
    {1,2,4,100}). Here STMP, STAMP and STOMP run as one task; MPX also
    splits into k SCAMP tiles per side, one Spark task each."""

    def test_canonical(self, k, algo):
        tol = 1e-4 if algo == "mpx" else 1e-7
        if k == 1:
            m = compute_mp(SIG, None, 4, MPOpts(algorithm=algo))
            mp, idx = m.mp, m.idx
        else:
            mp, idx = _tiled_mpx(SIG, 4, k)
        np.testing.assert_allclose(mp, WANT_MP, atol=tol)
        np.testing.assert_array_equal(idx, WANT_IDX)


class TestStompConstantSeries:
    # matrixprofile_test.go:548-549: constant series → all +Inf (or NaN) profile
    def test_constant(self):
        """Pins the exact non-finite output. Every distance is NaN (0/0),
        and a NaN cell of the partial folds into the result as inf with
        idx MAXINT. Cells 0 and 1 sit in row 0's exclusion zone, so they
        hold inf from the start and take the last row whose zone covers
        them (inf <= inf)."""
        mp = compute_mp(np.ones(16), None, 4, MPOpts(algorithm="stomp"))
        maxint = np.iinfo(np.int64).max
        np.testing.assert_array_equal(mp.mp, np.full(13, np.inf))
        np.testing.assert_array_equal(mp.idx, [2, 3] + [maxint] * 11)


class TestMpxNanInput:
    """A NaN in the series poisons every window's correlation through
    the running sums, and each NaN cell folds into the result as the
    empty cell: distance inf (Euclidean) or corr -inf (Pearson), idx
    MAXINT, at every offset."""

    @pytest.mark.parametrize("euclidean,want", [(True, np.inf), (False, -np.inf)])
    def test_walk_with_one_nan(self, euclidean, want):
        x = np.random.default_rng(0).normal(size=400).cumsum()
        x[200] = np.nan
        mp = compute_mp(x, None, 16, MPOpts(euclidean=euclidean))
        np.testing.assert_array_equal(mp.mp, np.full(385, want))
        np.testing.assert_array_equal(mp.idx, np.full(385, np.iinfo(np.int64).max))


class TestMpxAbJoin:
    # matrixprofile_test.go:631-632
    def test_ab_1(self):
        a = np.array([1.0, 2, 1, 3, 1])
        b = np.array([2.0, 1, 1, 2, 1, 3, 1, -1, -2])
        mp = compute_mp(a, b, 2, MPOpts(algorithm="mpx"))
        np.testing.assert_allclose(mp.mp, [0, 0, 0, 0], atol=1e-4)
        np.testing.assert_array_equal(mp.idx, [2, 3, 2, 3])

    def test_ab_2(self):
        a = np.array([1.0, 1, 1, 1, 1])
        b = np.array([1.0, 1, 1, 1, 1, 2, 2, 3, 4, 5])
        mp = compute_mp(a, b, 2, MPOpts(algorithm="mpx"))
        np.testing.assert_allclose(mp.mp, [2, 2, 2, 2], atol=1e-4)
        np.testing.assert_array_equal(mp.idx, [0, 1, 2, 3])


class TestMpxRemapNegCorr:
    # matrixprofile_test.go:639-653
    SER = np.array([0.0, 1, 1, 1, 0, 0, 2, 1, 0, 0, 2, 1])

    def test_no_remap(self):
        mp = compute_mp(self.SER, None, 4, MPOpts(algorithm="mpx", remap_neg_corr=False))
        want = [1.9550, 1.8388, 0.8739, 0, 0, 1.9550, 0.8739, 0, 0]
        np.testing.assert_allclose(mp.mp, want, atol=1e-4)
        np.testing.assert_array_equal(mp.idx, [4, 2, 6, 7, 8, 1, 2, 3, 4])

    def test_remap(self):
        mp = compute_mp(self.SER, None, 4, MPOpts(algorithm="mpx", remap_neg_corr=True))
        want = [1.0183, 1.0183, 0.8739, 0, 0, 1.2060, 0.8739, 0, 0]
        np.testing.assert_allclose(mp.mp, want, atol=1e-4)
        np.testing.assert_array_equal(mp.idx, [6, 3, 4, 7, 8, 3, 2, 3, 4])

    def test_remap_parallel_values(self):
        # The reference only pins remap Idx at p=1 (matrixprofile_test.go:
        # 641-644): remapped |corr| ties resolve differently across tile
        # merges. Values must still be invariant at any tiling.
        for k in (2, 4, 100):
            mp, _ = _tiled_mpx(self.SER, 4, k, remap_neg_corr=True)
            want = [1.0183, 1.0183, 0.8739, 0, 0, 1.2060, 0.8739, 0, 0]
            np.testing.assert_allclose(mp, want, atol=1e-4)


class TestStampSampling:
    def test_zero_sample_errors(self):
        # matrixprofile.go:669-671
        with pytest.raises(ValueError):
            compute_mp(SIG, None, 4, MPOpts(algorithm="stamp", sample_pct=0.0))

    def test_partial_sample_runs(self):
        mp = compute_mp(SIG, None, 4, MPOpts(algorithm="stamp", sample_pct=0.5, seed=7))
        assert mp.mp.size == SIG.size - 4 + 1


class TestUpdate:
    """Streaming ≡ batch contract (matrixprofile_test.go:706-762)."""

    def _assert_equals_recompute(self, mp):
        full = compute_mp(mp.a, None, 4, MPOpts(algorithm="stomp"))
        np.testing.assert_allclose(mp.mp, full.mp, atol=1e-7)

    def test_updates(self):
        mp = compute_mp(SIG.copy(), None, 4, MPOpts(algorithm="stomp"))
        mp.update([])
        self._assert_equals_recompute(mp)
        mp.update([0.5])
        self._assert_equals_recompute(mp)
        mp.update([0.2, 0.3, 0.4, 0.9])
        self._assert_equals_recompute(mp)

    def test_boundary_pair_at_half_window(self):
        """Regression: when an appended window's nearest neighbor sits at
        exactly w/2 before it, the half-open exclusion zone hides the
        pair from the new row's profile; Go's own Update misses it and
        violates its equivalence contract. Seed 16 constructs such a
        neighbor (full.idx[q] == q - w/2 for a post-cut q)."""
        w, n = 16, 68
        rng = np.random.default_rng(16)
        vals = np.abs(rng.normal(30, 20, n)).cumsum() * 0.01 + rng.random(n)
        cut = int(n * 0.8)
        full = compute_mp(vals, None, w, MPOpts(algorithm="stomp"))
        assert any(
            full.idx[q] == q - w // 2 for q in range(cut - w + 1, n - w + 1)
        ), "fixture must exercise the boundary pair"
        inc = compute_mp(vals[:cut].copy(), None, w, MPOpts(algorithm="stomp"))
        inc.update(vals[cut:])
        np.testing.assert_allclose(inc.mp, full.mp, atol=1e-9)


class TestMPDist:
    # matrixprofile_test.go:128-157: both golden pairs → distance ≈ 0
    def test_golden_1(self):
        a = np.array([1.0, 2, 3, 4, 3, 2, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0])
        b = np.array([0.0, 0, 0, 0, 0, 0, 0, 0, -1, -2, -3, -2, -1, 0, 1, 2, 1, 0])
        assert abs(mpdist(a, b, 5)) < 1e-4

    def test_golden_2(self):
        a = np.array([1.0, 2, 3, 4, 3, 2, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0])
        b = np.array([0.0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 1, 0])
        assert abs(mpdist(a, b, 5)) < 1e-4


class TestSaveLoad:
    # matrixprofile_test.go:85-126
    def test_roundtrip(self, tmp_path):
        mp = compute_mp(SIG, None, 4, MPOpts(algorithm="mpx"))
        path = str(tmp_path / "mp.json")
        mp.save(path)
        back = MatrixProfile.load(path)
        np.testing.assert_allclose(back.mp, mp.mp, atol=0)
        np.testing.assert_array_equal(back.idx, mp.idx)
        assert back.w == mp.w and back.self_join

    def test_bad_format(self, tmp_path):
        mp = compute_mp(SIG, None, 4)
        with pytest.raises(ValueError):
            mp.save(str(tmp_path / "x.csv"), "csv")


class TestSweepBackend:
    """_load_sweeps falls back to _diag_sweep_numpy, with one WARNING
    naming the reason, when the library cannot be built."""

    def _load(self, caplog, **kw):
        with caplog.at_level(logging.INFO, logger=mpm.__name__):
            sweeps = mpm._load_sweeps(**kw)
        return sweeps, [r for r in caplog.records if r.name == mpm.__name__]

    def _assert_fallback(self, caplog, monkeypatch, reason, **kw):
        sweeps, records = self._load(caplog, **kw)
        assert sweeps == {"numpy": mpm._diag_sweep_numpy}
        assert [r.levelno for r in records] == [logging.WARNING]
        assert "NumPy fallback" in records[0].getMessage()
        assert reason in records[0].getMessage()
        x = np.random.default_rng(3).normal(size=300).cumsum()
        want = compute_mp(x, None, 16)
        monkeypatch.setattr(mpm, "diag_sweep", sweeps["numpy"])
        got = compute_mp(x, None, 16)
        assert np.array_equal(got.mp, want.mp) and np.array_equal(got.idx, want.idx)

    def test_missing_compiler(self, tmp_path, caplog, monkeypatch):
        self._assert_fallback(caplog, monkeypatch, "no-such-cc",
                              cc="no-such-cc", cache_dir=str(tmp_path / "cache"))

    def test_unwritable_cache_dir(self, tmp_path, caplog, monkeypatch):
        # a path below a regular file cannot be created, even by root
        (tmp_path / "file").write_text("")
        cache = tmp_path / "file" / "cache"
        self._assert_fallback(caplog, monkeypatch, str(cache), cache_dir=str(cache))

    @pytest.mark.skipif(shutil.which("cc") is None, reason="no C compiler")
    def test_builds_into_cache_dir(self, tmp_path, caplog):
        """The INFO line names the library and the path dispatched to: the
        widest one this CPU runs."""
        sweeps, records = self._load(caplog, cache_dir=str(tmp_path))
        [lib] = tmp_path.iterdir()
        assert lib.name.startswith("diag_sweep-") and lib.suffix == ".so"
        paths = [["avx", "sse2"], ["sse2"]] if platform.machine() == "x86_64" else [["generic"]]
        assert list(sweeps) in paths
        path = next(iter(sweeps))
        assert [(r.levelno, r.getMessage()) for r in records] == [
            (logging.INFO, f"diag_sweep: C {lib} ({path})")
        ]


@pytest.mark.skipif(mpm.diag_sweep is mpm._diag_sweep_numpy, reason="no compiled sweep")
class TestCompiledSweepArguments:
    """The compiled sweep gets raw pointers, so its wrapper checks every
    array once: wrong dtype, non-contiguous and read-only outputs raise
    instead of reaching C."""

    W = 8

    def _args(self):
        x = np.random.default_rng(4).normal(size=40).cumsum()
        xs = mpm._diff_streams(x, self.W)
        n = xs[0].size
        seeds = mpm._centered_seeds(x, x, xs[0], xs[0], self.W)[2:]
        mp, idx = mpm._partial(n)
        return dict(xs=xs, ys=xs, seeds=seeds, d_lo=2, d_hi=n - 1,
                    mp_x=mp, idx_x=idx, mp_y=mp, idx_y=idx)

    @pytest.mark.parametrize("path", list(mpm._SWEEPS))
    @pytest.mark.parametrize("arg", ["stream", "mp_x", "idx_y"])
    def test_rejects_wrong_dtype(self, path, arg):
        a = self._args()
        if arg == "stream":
            a["ys"] = (a["xs"][0], a["xs"][1].astype(np.float32), *a["xs"][2:])
        else:
            a[arg] = a[arg].astype(np.float32 if arg == "mp_x" else np.int32)
        with pytest.raises(TypeError, match="float64|int64"):
            mpm._SWEEPS[path](**a)

    @pytest.mark.parametrize("path", list(mpm._SWEEPS))
    @pytest.mark.parametrize("arg", ["stream", "seeds", "idx_x"])
    def test_rejects_non_contiguous(self, path, arg):
        a = self._args()
        strided = lambda v: np.repeat(v, 2)[::2]  # noqa: E731 - same values, stride 2
        if arg == "stream":
            a["xs"] = (a["xs"][0], a["xs"][1], strided(a["xs"][2]), a["xs"][3])
        else:
            a[arg] = strided(a[arg])
        assert not (a["xs"][2] if arg == "stream" else a[arg]).flags.c_contiguous
        with pytest.raises(TypeError, match="C-contiguous"):
            mpm._SWEEPS[path](**a)

    @pytest.mark.parametrize("path", list(mpm._SWEEPS))
    @pytest.mark.parametrize("arg", ["mp_x", "idx_y"])
    def test_rejects_read_only_output(self, path, arg):
        a = self._args()
        a[arg] = a[arg].copy()
        a[arg].flags.writeable = False
        with pytest.raises(TypeError, match="writeable"):
            mpm._SWEEPS[path](**a)

    @pytest.mark.parametrize("path", list(mpm._SWEEPS))
    def test_read_only_inputs_are_read(self, path):
        a, b = self._args(), self._args()
        for v in (*a["xs"], a["seeds"]):
            v.flags.writeable = False
        mpm._SWEEPS[path](**a)
        mpm._SWEEPS[path](**b)
        assert np.array_equal(a["mp_x"], b["mp_x"]) and np.array_equal(a["idx_x"], b["idx_x"])
