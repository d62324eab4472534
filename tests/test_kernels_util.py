"""Golden-vector parity tests for the vector primitives.

Fixtures ported from /root/reference/util/util_test.go (cited per test).
"""

import numpy as np
import pytest

from go_matrixprofile_spark.kernels import (
    binary_split,
    apply_exclusion_zone,
    e2p,
    mov_mean_std,
    mu_invn,
    p2e,
    sum2s,
    z_normalize,
)


class TestZNormalize:
    # util/util_test.go:8-41
    def test_golden(self):
        np.testing.assert_allclose(
            z_normalize([7, 5, 5, 7]), [1, -1, -1, 1], atol=1e-7
        )

    def test_empty_errors(self):
        with pytest.raises(ValueError):
            z_normalize([])

    def test_constant_errors(self):
        # util/util_test.go:16-19: zero std is an error
        with pytest.raises(ValueError):
            z_normalize([1.0, 1.0])


class TestMovMeanStd:
    # util/util_test.go:43-98
    def test_golden(self):
        mean, std = mov_mean_std([1, 2, 4, 8], 2)
        np.testing.assert_allclose(mean, [1.5, 3, 6], atol=1e-7)
        np.testing.assert_allclose(std, [0.5, 1, 2], atol=1e-7)

    def test_m_too_small(self):
        with pytest.raises(ValueError):
            mov_mean_std([1, 2, 3], 1)

    def test_m_too_large(self):
        with pytest.raises(ValueError):
            mov_mean_std([1, 2, 3], 4)


class TestMuInvN:
    # util/util_test.go:100-135
    def test_golden(self):
        mu, sig = mu_invn(np.array([2.0, 4, 3, 5, 4, 6]), 3)
        np.testing.assert_allclose(mu, [3, 4, 4, 5], atol=1e-7)
        np.testing.assert_allclose(sig, [np.sqrt(2) / 2] * 4, atol=1e-7)

    def test_sum2s_is_sliding_mean(self):
        rng = np.random.default_rng(1)
        a = rng.standard_normal(257)
        got = sum2s(a, 16)
        want = np.convolve(a, np.ones(16) / 16, mode="valid")
        np.testing.assert_allclose(got, want, atol=1e-10)

    def test_constant_window_sig_zero(self):
        # p+s == 0 path (util/util.go:130-132)
        _, sig = mu_invn(np.array([3.0, 3, 3, 3]), 3)
        assert sig[0] == 0 and sig[1] == 0


class TestBinarySplit:
    # util/util_test.go:137-165
    @pytest.mark.parametrize(
        "lb,ub,want",
        [
            (0, 0, [0]),
            (0, 4, [0, 2, 1, 3, 4]),
            (0, 9, [0, 5, 2, 7, 1, 3, 6, 8, 4, 9]),
            (7, 15, [7, 11, 9, 13, 8, 10, 12, 14, 15]),
            (1, 0, []),
        ],
    )
    def test_golden(self, lb, ub, want):
        assert binary_split(lb, ub) == want


class TestExclusionZone:
    def test_inplace_half_open(self):
        # util/util.go:85-97: [idx-zone, idx+zone) clipped to bounds
        prof = np.zeros(10)
        apply_exclusion_zone(prof, 5, 2)
        assert np.isinf(prof[3:7]).all()
        assert np.isfinite(prof[:3]).all() and np.isfinite(prof[7:]).all()

    def test_zero_zone_noop(self):
        prof = np.zeros(4)
        apply_exclusion_zone(prof, 3, 0)
        assert np.isfinite(prof).all()


class TestP2EE2P:
    def test_roundtrip(self):
        rho = np.array([0.0, 0.5, 0.99, 1.0])
        np.testing.assert_allclose(e2p(p2e(rho, 8), 8), rho, atol=1e-12)

    def test_p2e_caps_at_one(self):
        # util/util.go:266-274: rho > 1 clamps to distance 0
        np.testing.assert_allclose(p2e(np.array([1.0000001]), 4), [0.0], atol=1e-12)
