"""Gorilla codec roundtrip tests: bit-exact, including NaN and edge sizes."""

import numpy as np
import pytest

from go_matrixprofile_spark.functions.compress import (
    compress_ts,
    compress_values,
    decompress_ts,
    decompress_values,
)


class TestTsCodec:
    @pytest.mark.parametrize("n", [0, 1, 2, 3, 100])
    def test_roundtrip_sizes(self, n):
        rng = np.random.default_rng(n)
        ts = np.cumsum(rng.integers(1, 100, n)).astype(np.int64)
        np.testing.assert_array_equal(decompress_ts(compress_ts(ts)), ts)

    def test_regular_grid_compresses_hard(self):
        ts = np.arange(0, 3600 * 1000, 60, dtype=np.int64)
        blob = compress_ts(ts)
        # dod == 0 everywhere → ~1 bit/point
        assert len(blob) < ts.size // 4
        np.testing.assert_array_equal(decompress_ts(blob), ts)

    def test_bucket_boundaries(self):
        # exercise every dod bucket including the 64-bit escape
        deltas = np.array([10, 10, 74, 10, 266, 10, 2058, 10, 10**7, 10], dtype=np.int64)
        ts = np.concatenate([[0], np.cumsum(deltas)])
        np.testing.assert_array_equal(decompress_ts(compress_ts(ts)), ts)

    def test_negative_dod(self):
        ts = np.array([0, 100, 150, 160, 161, 500, 501], dtype=np.int64)
        np.testing.assert_array_equal(decompress_ts(compress_ts(ts)), ts)


class TestValueCodec:
    @pytest.mark.parametrize("n", [0, 1, 2, 3, 257])
    def test_roundtrip_sizes(self, n):
        rng = np.random.default_rng(n)
        v = rng.standard_normal(n)
        got = decompress_values(compress_values(v))
        np.testing.assert_array_equal(got.view(np.uint64), v.view(np.uint64))

    def test_constant_run(self):
        v = np.full(1000, 3.14159)
        blob = compress_values(v)
        assert len(blob) < 200  # 1 bit/point after the first
        np.testing.assert_array_equal(decompress_values(blob), v)

    def test_nan_inf_bitexact(self):
        v = np.array([1.0, np.nan, np.inf, -np.inf, 0.0, -0.0, 2.0])
        got = decompress_values(compress_values(v))
        np.testing.assert_array_equal(got.view(np.uint64), v.view(np.uint64))

    def test_slowly_varying_compresses(self):
        v = np.cumsum(np.ones(500) * 0.5)
        assert len(compress_values(v)) < 8 * 500 * 0.8


class TestRatio:
    def test_typical_series(self):
        ts = np.arange(0, 60_000, 60, dtype=np.int64)
        v = np.round(np.sin(np.arange(1000) / 10.0), 2)
        raw = 16 * len(ts)
        assert raw / (len(compress_ts(ts)) + len(compress_values(v))) > 1.5
