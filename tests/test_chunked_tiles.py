"""Chunked (tiled) matrix profile: bounded-segment plumbing at mega-thread
scale and kernel-vs-whole equality at 16k."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestTilePlumbing:
    @pytest.mark.parametrize("grid_step", [None, 1])
    def test_mega_thread_segments_bounded(self, spark, grid_step):
        """A 2^21-point conversation must never materialize as one row:
        every segment array is bounded by t_width + w - 1 and the tile
        fan-out is k(k+1)/2. (The O(n^2) kernel itself is exercised at
        smaller n — this pins the plan that removes the 2 GiB row
        ceiling.) Runs through BOTH position paths: the window sort and
        the arithmetic grid_step derivation that removes the single-task
        sort for regular grids."""
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
        tiles = chunked_tile_inputs(src, w, k, grid_step=grid_step).select(
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
        from go_matrixprofile_spark.kernels.matrix_profile import MatrixProfile, MPOpts
        from go_matrixprofile_spark.operators.profile import matrix_profile_chunked

        n, w = 16384, 64
        sig = siggen.add(
            siggen.sin(1.0, 4, 0, 0, 100, n / 100)[:n], siggen.noise(0.25, n, 11)
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
        for kwargs in (
            {"n_batches": 8},
            {"tile_points": 3000},
            {"tile_points": 3000, "grid_step": 1},
        ):
            got = (
                matrix_profile_chunked(src, w=w, **kwargs)
                .orderBy("offset")
                .toPandas()
            )
            assert len(got) == want.mp.size, kwargs
            np.testing.assert_allclose(got["mp"].to_numpy(), want.mp, atol=1e-9)
            mism = int((got["idx"].to_numpy() != want.idx).sum())
            assert mism == 0, kwargs

    def test_grid_step_irregular_fallback(self, spark):
        """A declared grid_step that does NOT match the data (irregular
        bucket spacing, duplicate-free but gappy) must fall back to the
        window-sort path and still reproduce the whole-series profile."""
        from go_matrixprofile_spark.kernels.matrix_profile import MatrixProfile, MPOpts
        from go_matrixprofile_spark.operators.profile import matrix_profile_chunked

        n, w = 300, 8
        rng = np.random.default_rng(7)
        sig = rng.normal(0, 1, n).cumsum() + rng.random(n)
        # irregular spacing: cumulative jitter of 1 or 3 — one residue
        # class violation and a wrong span for step=1
        bucket = np.cumsum(rng.choice([1.0, 3.0], size=n))
        src = spark.createDataFrame(
            pd.DataFrame(
                {
                    "conv_id": "c",
                    "metric": "m",
                    "bucket_s": bucket,
                    "value": sig,
                }
            )
        )
        want = MatrixProfile(sig, None, w).compute(MPOpts(algorithm="mpx"))
        got = (
            matrix_profile_chunked(src, w=w, tile_points=64, grid_step=1)
            .orderBy("offset")
            .toPandas()
        )
        assert len(got) == want.mp.size
        np.testing.assert_allclose(got["mp"].to_numpy(), want.mp, atol=1e-9)
        assert (got["idx"].to_numpy() == want.idx).all()


class TestTileEdgeCases:
    @pytest.mark.parametrize("n", [9, 17, 33, 64])
    def test_tiny_and_odd_series(self, spark, n):
        """Tile decomposition at degenerate sizes: series barely longer
        than w, lengths not divisible by the tile width — values and
        indices must still equal the whole-series kernel. Conversation
        "off" is the same series shifted to mean ~1e3: tile seeds must
        not cancel on an offset-heavy series."""
        from go_matrixprofile_spark.kernels.matrix_profile import MatrixProfile, MPOpts
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
        for kwargs in ({"n_batches": 4}, {"tile_points": 10}):
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


class TestABChunked:
    @pytest.mark.parametrize("grid_step", [None, 1])
    def test_ab_tiles_equal_whole(self, spark, grid_step):
        """Tiled AB-join reproduces matrix_profile_ab values exactly
        (both directions), with bounded per-task segments — via both
        the window-sort and the arithmetic grid_step position paths
        (the input is a regular step-1 grid, so grid_step=1 takes the
        sort-free branch; irregular fallback is covered by the shared
        _grid_positions test in TestChunkedTiles). Conversation c2 is
        offset-heavy (both sides at mean ~1e3)."""
        from go_matrixprofile_spark.kernels import siggen
        from go_matrixprofile_spark.operators.profile import (
            matrix_profile_ab,
            matrix_profile_ab_chunked,
        )

        w = 12
        rows_a, rows_b = [], []
        for cid, offset in ((0, 0.0), (1, 0.0), (2, 1e3)):
            na, nb = 300 + cid * 41, 240 + cid * 17
            a = offset + siggen.add(
                siggen.sin(1.0, 4, 0, 0, 60, na / 60)[:na], siggen.noise(0.3, na, cid)
            )
            b = offset + siggen.add(
                siggen.sin(0.7, 6, 1, 0, 60, nb / 60)[:nb],
                siggen.noise(0.3, nb, cid + 10),
            )
            rows_a += [(f"c{cid}", float(i), float(v)) for i, v in enumerate(a)]
            rows_b += [(f"c{cid}", float(i), float(v)) for i, v in enumerate(b)]
        cols = ["conv_id", "bucket_s", "value"]
        src_a = spark.createDataFrame(pd.DataFrame(rows_a, columns=cols))
        src_b = spark.createDataFrame(pd.DataFrame(rows_b, columns=cols))
        key = ["conv_id", "direction", "offset"]
        want = (
            matrix_profile_ab(
                src_a.withColumn("metric", F.lit("m")),
                src_b.withColumn("metric", F.lit("m")),
                w=w,
            )
            .orderBy(key)
            .toPandas()
        )
        got = (
            matrix_profile_ab_chunked(
                src_a, src_b, w=w, tile_points=100, grid_step=grid_step
            )
            .orderBy(key)
            .toPandas()
        )
        assert len(got) == len(want) > 0
        np.testing.assert_allclose(
            got["mp"].to_numpy(), want["mp"].to_numpy(), rtol=0, atol=1e-9
        )
        assert (got["idx"].to_numpy() == want["idx"].to_numpy()).all()


class TestTieOrder:
    """Exact-tie pinning: mostly-constant series make EVERY pair of
    constant windows bit-identically corr 0.0 (the MuInvN zero-sigma
    guard multiplies by inv = 0), so the reported idx is purely the tie
    rule. These tests pin the documented order on the tiled paths."""

    @staticmethod
    def _const_series(n, bumps):
        sig = np.full(n, 5.0)
        for p, v in bumps:
            sig[p] = v
        return sig

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

        from go_matrixprofile_spark.kernels.matrix_profile import MatrixProfile, MPOpts
        from go_matrixprofile_spark.operators.profile import matrix_profile_chunked

        n, w = 120, 8
        sig = self._const_series(n, [])
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
        for kwargs in ({"n_batches": 6}, {"tile_points": 16}):
            got = (
                matrix_profile_chunked(src, w=w, **kwargs).orderBy("offset").toPandas()
            )
            np.testing.assert_allclose(got["mp"].to_numpy(), want.mp, atol=0)
            assert (got["idx"].to_numpy() == want.idx).all(), kwargs

    def test_ab_tiles_tie_rule_pinned(self, spark):
        """Tiled AB-join tie rule: smallest signed diagonal j_B - i_A
        wins on both sides — direction 'ab' reports the LOWEST B index,
        direction 'ba' the HIGHEST A index. (The whole-series Go kernel's
        own AB tie order is a pass-structure artifact — idx = offset on
        an all-tied input — pinned here too to document the divergence;
        values are identical on both paths.)"""
        import pandas as pd

        from go_matrixprofile_spark.operators.profile import (
            matrix_profile_ab,
            matrix_profile_ab_chunked,
        )

        w, na, nb = 8, 60, 44
        a = self._const_series(na, [])
        b = self._const_series(nb, [])
        cols = ["conv_id", "bucket_s", "value"]
        src_a = spark.createDataFrame(
            pd.DataFrame([("c", float(i), float(v)) for i, v in enumerate(a)], columns=cols)
        )
        src_b = spark.createDataFrame(
            pd.DataFrame([("c", float(i), float(v)) for i, v in enumerate(b)], columns=cols)
        )
        got = (
            matrix_profile_ab_chunked(src_a, src_b, w=w, tile_points=16)
            .orderBy("direction", "offset")
            .toPandas()
        )
        ab = got[got.direction == "ab"]
        ba = got[got.direction == "ba"]
        assert len(ab) == na - w + 1 and len(ba) == nb - w + 1
        # all-constant: every corr is exactly 0 -> mp = sqrt(2w) everywhere
        np.testing.assert_allclose(got["mp"].to_numpy(), np.sqrt(2.0 * w), atol=0)
        assert (ab["idx"].to_numpy() == 0).all()
        assert (ba["idx"].to_numpy() == na - w).all()
        whole = (
            matrix_profile_ab(
                src_a.withColumn("metric", F.lit("m")),
                src_b.withColumn("metric", F.lit("m")),
                w=w,
            )
            .orderBy("direction", "offset")
            .toPandas()
        )
        np.testing.assert_allclose(whole["mp"].to_numpy(), np.sqrt(2.0 * w), atol=0)
        # Go order: the diag-0 cell (j = offset) is visited first on both
        # sides, so an all-tied input reports idx = offset (clamped to
        # the other side's last window on the longer tail)
        wab = whole[whole.direction == "ab"]
        wba = whole[whole.direction == "ba"]
        assert (
            wab["idx"].to_numpy() == np.minimum(wab["offset"].to_numpy(), nb - w)
        ).all()
        assert (
            wba["idx"].to_numpy() == np.minimum(wba["offset"].to_numpy(), na - w)
        ).all()


class TestPanDistributed:
    def test_equals_per_conv_pan(self, spark):
        """(conv, window-batch) task granularity with the fused
        multi-window kernel reproduces the NumPy pan-MP kernel run per
        collected series: values to accumulation order (1e-9), indices
        exactly."""
        from go_matrixprofile_spark.kernels import siggen
        from go_matrixprofile_spark.kernels.matrix_profile import MPOpts
        from go_matrixprofile_spark.kernels.pmp import PMP
        from go_matrixprofile_spark.operators.profile import (
            pan_matrix_profile_distributed,
        )

        rows = []
        for cid in range(3):
            n = 80 + cid * 17
            sig = siggen.add(
                siggen.sin(1.0, 3, 0, 0, 50, n / 50)[:n], siggen.noise(0.2, n, cid)
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
            p = PMP(vals).compute(6, 10, MPOpts())
            for level, w in enumerate(range(6, 11)):
                if w not in p.pwindows:
                    continue
                m = vals.size - w + 1
                frames.append(
                    pd.DataFrame(
                        {
                            "conv_id": cid,
                            "metric": metric,
                            "w": w,
                            "offset": np.arange(m),
                            "mp": p.pmp[level][:m],
                            "idx": p.pidx[level][:m],
                        }
                    )
                )
        a = pd.concat(frames).sort_values(key, ignore_index=True)
        for wpt in (1, 3, 8):
            b = (
                pan_matrix_profile_distributed(src, 6, 10, windows_per_task=wpt)
                .orderBy(key)
                .toPandas()
            )
            assert len(a) == len(b) > 0, wpt
            assert (a[key].to_numpy() == b[key].to_numpy()).all(), wpt
            np.testing.assert_allclose(
                a["mp"].to_numpy(), b["mp"].to_numpy(), atol=1e-9
            )
            assert (a["idx"].to_numpy() == b["idx"].to_numpy()).all(), wpt
