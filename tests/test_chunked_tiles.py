"""Chunked (tiled) matrix profile: bounded-segment plumbing at mega-thread
scale and kernel-vs-whole equality at 16k."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_matrixprofile_spark.kernels.matrix_profile import MPOpts


class TestTilePlumbing:
    def test_mega_thread_segments_bounded(self, spark):
        """A 2^21-point conversation must never materialize as one row:
        every segment array is bounded by t_width + w - 1 and the tile
        fan-out is k(k+1)/2. (The O(n^2) kernel itself is exercised at
        smaller n — this pins the plan that removes the 2 GiB row
        ceiling.)"""
        from go_matrixprofile_spark.operators.profile import chunked_tile_inputs

        n = 1 << 21
        w = 128
        k = 4
        src = (
            spark.range(n)
            .select(
                F.lit("mega").alias("conv_id"),
                F.lit("m").alias("metric"),
                F.col("id").cast("double").alias("bucket_s"),
                (F.sin(F.col("id") / 37.0) + F.col("id") % 13 / 7.0).alias("value"),
            )
        )
        tiles = chunked_tile_inputs(src, w, k).select(
            "r",
            "c",
            F.size("row_vals").alias("nrow"),
            F.size("col_vals").alias("ncol"),
            "len_a",
            "t_width",
        )
        pdf = tiles.toPandas()
        len_a = n - w + 1
        t_width = int(np.ceil(len_a / k))
        assert len(pdf) == k * (k + 1) // 2
        assert (pdf["t_width"] == t_width).all()
        bound = t_width + w - 1
        assert pdf["nrow"].max() <= bound
        assert pdf["ncol"].max() <= bound
        # every tile ships ~2/k of the series, not the whole series
        assert pdf["nrow"].max() < n // 2

    def test_chunked_equals_whole_16k(self, spark):
        """Tile decomposition reproduces the whole-series MPX profile on
        a 16,384-point series (values to 1e-9, indices exactly)."""
        from go_matrixprofile_spark.kernels import siggen
        from go_matrixprofile_spark.kernels.matrix_profile import MatrixProfile
        from go_matrixprofile_spark.operators.profile import matrix_profile_chunked

        n, w = 16384, 64
        sig = siggen.add(
            np.sin(2.0 * np.pi * 4 * np.arange(n) / 100), siggen.noise(0.25, n, 11)
        )
        pdf = pd.DataFrame(
            {
                "conv_id": "c16k",
                "metric": "m",
                "bucket_s": np.arange(n, dtype=np.float64),
                "value": sig,
            }
        )
        src = spark.createDataFrame(pdf)
        want = MatrixProfile(sig, None, w).compute(MPOpts(algorithm="mpx"))
        # n_batches 21: k = 6 tiles per side, 21 tiles
        for kwargs in ({"n_batches": 8}, {"n_batches": 21}):
            got = (
                matrix_profile_chunked(src, w=w, **kwargs)
                .orderBy("offset")
                .toPandas()
            )
            assert len(got) == want.mp.size, kwargs
            np.testing.assert_allclose(got["mp"].to_numpy(), want.mp, atol=1e-9)
            mism = int((got["idx"].to_numpy() != want.idx).sum())
            assert mism == 0, kwargs


class TestTileEdgeCases:
    @pytest.mark.parametrize("n", [9, 17, 33, 64])
    def test_tiny_and_odd_series(self, spark, n):
        """Tile decomposition at degenerate sizes: series barely longer
        than w, lengths not divisible by the tile width — values and
        indices must still equal the whole-series kernel. Conversation
        "off" is the same series shifted to mean ~1e3: tile seeds must
        not cancel on an offset-heavy series."""
        from go_matrixprofile_spark.kernels.matrix_profile import MatrixProfile
        from go_matrixprofile_spark.operators.profile import matrix_profile_chunked

        w = 8
        rng = np.random.default_rng(n)
        sig = rng.normal(0, 1, n).cumsum() + rng.random(n)
        series = {"c": sig, "off": sig + 1e3}
        src = spark.createDataFrame(
            pd.concat(
                pd.DataFrame(
                    {
                        "conv_id": cid,
                        "metric": "m",
                        "bucket_s": np.arange(n, dtype=np.float64),
                        "value": vals,
                    }
                )
                for cid, vals in series.items()
            )
        )
        for kwargs in ({"n_batches": 4}, {"n_batches": 21}):
            got_all = (
                matrix_profile_chunked(src, w=w, **kwargs)
                .orderBy("conv_id", "offset")
                .toPandas()
            )
            for cid, vals in series.items():
                want = MatrixProfile(vals, None, w).compute(MPOpts(algorithm="mpx"))
                got = got_all[got_all.conv_id == cid]
                msg = str((n, cid, kwargs))
                assert len(got) == want.mp.size, msg
                np.testing.assert_allclose(
                    got["mp"].to_numpy(), want.mp, rtol=0, atol=1e-9, err_msg=msg
                )
                assert (got["idx"].to_numpy() == want.idx).all(), msg


class TestTieOrder:
    """Exact-tie pinning: mostly-constant series make EVERY pair of
    constant windows bit-identically corr 0.0 (the MuInvN zero-sigma
    guard multiplies by inv = 0), so the reported idx is purely the tie
    rule. Pinned here for the tiled self-join."""

    def test_self_join_tiles_match_whole_on_ties(self, spark):
        """Chunked self-join must reproduce whole-series MPX idx exactly
        under massive exact ties: earliest diagonal wins, and at equal
        diagonal distance the lower idx (diagonal-side-first) wins.

        The series is ALL constant: every window has sig = 0, so every
        corr is bit-exactly 0.0 on both paths and the reported idx is
        purely the tie rule. (Adding isolated spikes would NOT harden
        the test — any two one-spike windows z-normalize to the same
        shape, an analytic tie that raw-float accumulation resolves
        differently per path.)"""
        import pandas as pd

        from go_matrixprofile_spark.kernels.matrix_profile import MatrixProfile
        from go_matrixprofile_spark.operators.profile import matrix_profile_chunked

        n, w = 120, 8
        sig = np.full(n, 5.0)
        src = spark.createDataFrame(
            pd.DataFrame(
                {
                    "conv_id": "c",
                    "metric": "m",
                    "bucket_s": np.arange(n, dtype=np.float64),
                    "value": sig,
                }
            )
        )
        want = MatrixProfile(sig, None, w).compute(MPOpts(algorithm="mpx"))
        for kwargs in ({"n_batches": 6}, {"n_batches": 21}):
            got = (
                matrix_profile_chunked(src, w=w, **kwargs).orderBy("offset").toPandas()
            )
            np.testing.assert_allclose(got["mp"].to_numpy(), want.mp, atol=0)
            assert (got["idx"].to_numpy() == want.idx).all(), kwargs


class TestPanDistributed:
    """pan_matrix_profile_distributed runs kernels.pmp.PMP on each whole
    series: its rows equal PMP's levels per collected series exactly
    (keys, mp and idx, no tolerance), for every option PMP reads."""

    @staticmethod
    def _assert_equals_pmp(spark, opts):
        from go_matrixprofile_spark.kernels import siggen
        from go_matrixprofile_spark.kernels.pmp import PMP
        from go_matrixprofile_spark.operators.profile import (
            pan_matrix_profile_distributed,
        )

        rows = []
        for cid in range(3):
            n = 80 + cid * 17
            sig = siggen.add(
                np.sin(2.0 * np.pi * 3 * np.arange(n) / 50), siggen.noise(0.2, n, cid)
            )
            for i, v in enumerate(sig):
                rows.append((f"c{cid}", "m", float(i), float(v)))
        src = spark.createDataFrame(
            pd.DataFrame(rows, columns=["conv_id", "metric", "bucket_s", "value"])
        )
        key = ["conv_id", "metric", "w", "offset"]
        frames = []
        for (cid, metric), g in src.toPandas().groupby(["conv_id", "metric"]):
            vals = g.sort_values("bucket_s")["value"].to_numpy(dtype=np.float64)
            p = PMP(vals).compute(6, 10, opts)
            for w in p.pwindows:
                frames.append(
                    pd.DataFrame(
                        {
                            "conv_id": cid,
                            "metric": metric,
                            "w": w,
                            "offset": np.arange(vals.size - w + 1),
                            "mp": p.pmp[w - 6],
                            "idx": p.pidx[w - 6],
                        }
                    )
                )
        a = pd.concat(frames).sort_values(key, ignore_index=True)
        b = (
            pan_matrix_profile_distributed(src, 6, 10, opts)
            .orderBy(key)
            .toPandas()
        )
        assert len(a) == len(b) > 0
        assert (a[key].to_numpy() == b[key].to_numpy()).all()
        np.testing.assert_array_equal(a["mp"].to_numpy(), b["mp"].to_numpy())
        np.testing.assert_array_equal(a["idx"].to_numpy(), b["idx"].to_numpy())

    def test_equals_per_conv_pan(self, spark):
        self._assert_equals_pmp(spark, MPOpts())

    @pytest.mark.parametrize(
        "opts",
        [
            MPOpts(algorithm="stomp"),
            MPOpts(sample_pct=0.6, seed=1),
            MPOpts(euclidean=False, remap_neg_corr=True),
        ],
        ids=["stomp", "sampled", "pearson-remap"],
    )
    def test_equals_pmp_for_opts(self, spark, opts):
        self._assert_equals_pmp(spark, opts)
