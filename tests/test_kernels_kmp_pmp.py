"""Golden-vector parity for KMP (kmp_test.go) and PMP (pmp_test.go)."""

import numpy as np
import pytest

from go_matrixprofile_spark.kernels import KMP, PMP, MPOpts


T3 = [
    [0.0, 0, 1, 1, 0, 0, 0, 1, 1, 0, 0],
    [0.0, 0, -1, -1, 0, 0, 0, -1, -1, 0, 0],
    [0.0, 0, 0, 1, 0, 1, 1, 0, 0, 1, 0],
]


class TestKMPNew:
    # kmp_test.go:11-33
    def test_empty(self):
        with pytest.raises(ValueError):
            KMP([], 2)

    def test_unequal_lengths(self):
        with pytest.raises(ValueError):
            KMP([[1.0, 2, 3, 4, 5, 6], [1.0, 2, 3]], 2)

    def test_w_too_small(self):
        with pytest.raises(ValueError):
            KMP(T3, 1)

    def test_2w_bound(self):
        # kmp.go:52: requires 2W < n
        with pytest.raises(ValueError):
            KMP(T3, 6)


class TestMStomp:
    # kmp_test.go:134-196 — golden 3-dim profile, tolerance 1e-7
    def test_golden(self):
        k = KMP(T3, 4).compute()
        want01 = [0, 0, 0, 1.838803373524, 1.838803373524, 0, 0, 0]
        want2 = [
            1.184098445303,
            1.184098445303,
            1.184098445303,
            1.995669274602,
            2.409967360985,
            1.184098445303,
            1.184098445303,
            1.184098445303,
        ]
        np.testing.assert_allclose(k.mp[0], want01, atol=1e-7)
        np.testing.assert_allclose(k.mp[1], want01, atol=1e-7)
        np.testing.assert_allclose(k.mp[2], want2, atol=1e-7)

    def test_save_load(self, tmp_path):
        # kmp_test.go:198-239
        k = KMP(T3, 4).compute()
        p = str(tmp_path / "kmp.json")
        k.save(p)
        back = KMP.load(p)
        np.testing.assert_allclose(back.mp, k.mp, atol=0)
        np.testing.assert_array_equal(back.idx, k.idx)


class TestPMP:
    SIG = np.array([0.0, 0.99, 1.0, 0.0, 0.0, 0.98, 1.0, 0.0, 0.0, 0.96, 1.0, 0.0])

    # pmp_test.go:47-148 — lb=3, ub=5 golden profiles, tolerance 1e-4
    def test_golden_multiwindow(self):
        p = PMP(self.SIG).compute(3, 5, MPOpts(algorithm="mpx"))
        assert sorted(p.pwindows) == [3, 4, 5]
        w3 = [0.015225, 0.015225, 0, 0, 0.015225, 0.015225, 0, 0, 0.030899, 0.030899]
        i3 = [4, 5, 6, 7, 0, 1, 2, 3, 4, 5]
        w4 = [0.01435, 0.01435, 0.02913, 0.02913, 0.01435, 0.01435, 0.02913, 0.02913, 0.02913]
        i4 = [4, 5, 6, 7, 0, 1, 2, 3, 4]
        w5 = [0.014651, 0.029742, 0.033992, 0.029742, 0.014651, 0.029742, 0.033992, 0.029742]
        i5 = [4, 5, 6, 7, 0, 1, 2, 3]
        np.testing.assert_allclose(p.pmp[0], w3, atol=1e-4)
        np.testing.assert_array_equal(p.pidx[0], i3)
        np.testing.assert_allclose(p.pmp[1], w4, atol=1e-4)
        np.testing.assert_array_equal(p.pidx[1], i4)
        np.testing.assert_allclose(p.pmp[2], w5, atol=1e-4)
        np.testing.assert_array_equal(p.pidx[2], i5)

    def test_sample_truncates_binary_split_order(self):
        # pmp.go:120-121: truncation happens on BinarySplit ORDER
        p = PMP(self.SIG).compute(3, 7, MPOpts(algorithm="mpx", sample_pct=0.5))
        # binary_split(3,7) = [3,5,4,6,7]; 50% → [3,5]
        assert p.pwindows == [3, 5]

    def test_save_load(self, tmp_path):
        # pmp_test.go:9-45
        p = PMP(self.SIG).compute(3, 5, MPOpts(algorithm="mpx"))
        path = str(tmp_path / "pmp.json")
        p.save(path)
        back = PMP.load(path)
        assert back.pwindows == p.pwindows
        for a, b in zip(back.pmp, p.pmp):
            np.testing.assert_allclose(a, b, atol=0)
