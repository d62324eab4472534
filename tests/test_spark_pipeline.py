"""Spark pipeline tests: datagen determinism, series derivation, tier
rollup exact match vs the single-node pandas reference, gap-fill, and
the distributed matrix profile (whole-series and chunked strategies)
against both the NumPy kernel and the Go golden fixture planted in the
corpus."""

import numpy as np
import pandas as pd
import pytest

from go_matrixprofile_spark.kernels import MPOpts, compute_mp
from go_matrixprofile_spark.operators import rollup as R
from go_matrixprofile_spark.operators import series as S
from go_matrixprofile_spark.operators import reference_rollup as REF
from go_matrixprofile_spark.operators.profile import (
    discover,
    matrix_profile,
    matrix_profile_chunked,
)
from go_matrixprofile_spark.sources import datagen

N_CONVS = 12


@pytest.fixture(scope="module")
def transcripts(spark):
    df = datagen.generate_transcripts(spark, N_CONVS, mega_every=0)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def transcripts_pd():
    return datagen.generate_transcripts_pandas(N_CONVS, mega_every=0)


@pytest.fixture(scope="module")
def series_raw(spark, transcripts):
    df = S.derive_series(transcripts)
    df.cache().count()
    return df


class TestDatagen:
    def test_per_turn_text_equality(self, transcripts, transcripts_pd):
        """input_hint invariant: per-turn text equality under stable
        (conv_id, turn_idx) ordering, Spark vs reference generator."""
        got = (
            transcripts.orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", "text")
            .toPandas()
        )
        want = transcripts_pd.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)[
            ["conv_id", "turn_idx", "text"]
        ]
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    def test_deterministic_regeneration(self, spark, transcripts):
        again = datagen.generate_transcripts(spark, N_CONVS, mega_every=0)
        a = transcripts.orderBy("conv_id", "turn_idx").toPandas()
        b = again.orderBy("conv_id", "turn_idx").toPandas()
        pd.testing.assert_frame_equal(a, b)

    def test_schema(self, transcripts):
        assert [f.name for f in transcripts.schema.fields] == [
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
        ]


class TestSeries:
    def test_matches_pandas_reference(self, series_raw, transcripts_pd):
        got = (
            series_raw.orderBy("conv_id", "metric", "bucket_s")
            .toPandas()
            .reset_index(drop=True)
        )
        want = (
            REF.derive_series_pandas(transcripts_pd)
            .sort_values(["conv_id", "metric", "bucket_s"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want)
        np.testing.assert_allclose(got["value"].to_numpy(), want["value"].to_numpy(), atol=1e-9)

    @pytest.mark.parametrize("shape", ["parquet_table", "transcripts_from_events"])
    def test_bit_identical_to_single_metric_paths(
        self, spark, transcripts, transcripts_pd, tmp_path, shape
    ):
        """On both input shapes (a Parquet transcript table, and
        transcripts_from_events output, which arrives hash-partitioned on
        conv_id) the two-leg plan gives the bits of the single-metric
        operators: text_len and latency as their own window projections
        compute them, and turn_rate as whole counts per minute bucket,
        checked against the pandas reference exactly."""
        from go_matrixprofile_spark.sources.transcripts import transcripts_from_events

        if shape == "parquet_table":
            transcripts.write.parquet(str(tmp_path / "t"))
            t = spark.read.parquet(str(tmp_path / "t"))
        else:
            ev = transcripts.selectExpr(
                "dense_rank() OVER (ORDER BY conv_id) AS user_id", "role AS event_type",
                "text AS props", "ts", "CAST(turn_idx AS BIGINT) AS event_id",
            )
            t = transcripts_from_events(ev)
        key = ["conv_id", "metric", "bucket_s", "value"]
        got = S.derive_series(t).toPandas().sort_values(key, ignore_index=True)
        want = (
            S.text_len_series(t)
            .unionByName(S.inter_turn_latency_series(t))
            .unionByName(S.turn_rate_series(t, 60))
            .toPandas()
            .sort_values(key, ignore_index=True)
        )
        assert list(got.columns) == key
        assert got.equals(want)

        rate = got[got["metric"] == "turn_rate"].drop(columns="metric")
        ref = REF.derive_series_pandas(transcripts_pd)
        ref = ref[ref["metric"] == "turn_rate"].drop(columns="metric")
        if shape == "transcripts_from_events":
            user_id = {c: str(i + 1) for i, c in enumerate(sorted(ref["conv_id"].unique()))}
            ref = ref.assign(conv_id=ref["conv_id"].map(user_id))
        cols = ["conv_id", "bucket_s", "value"]
        ref = ref[cols].sort_values(cols, ignore_index=True)
        assert rate[cols].sort_values(cols, ignore_index=True).equals(ref)

    def test_fixture_text_len_series(self, series_raw):
        vals = (
            series_raw.where(
                (series_raw.conv_id == datagen.FIXTURE_CANONICAL)
                & (series_raw.metric == "text_len")
            )
            .orderBy("bucket_s")
            .toPandas()["value"]
            .tolist()
        )
        assert vals == [float(v) for v in datagen.CANONICAL_SERIES]


class TestRollup:
    @pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
    def test_exact_tier_match(self, spark, series_raw, transcripts_pd, tier):
        """North rule: rolled-up points exactly match the single-node
        reference at every tier (tier-on-tier partials vs raw rescan)."""
        tiers = R.rollup_all_tiers(series_raw)
        got = (
            tiers[tier]
            .orderBy("conv_id", "metric", "bucket_s")
            .toPandas()
            .reset_index(drop=True)
        )
        ref_series = REF.derive_series_pandas(transcripts_pd)
        want = (
            REF.rollup_pandas(ref_series, tier)
            .sort_values(["conv_id", "metric", "bucket_s"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want), f"{tier}: row count mismatch"
        np.testing.assert_array_equal(got["cnt"].to_numpy(), want["cnt"].to_numpy())
        for col in ["sum", "min", "max", "first", "last"]:
            np.testing.assert_allclose(
                got[col].to_numpy(), want[col].to_numpy(), atol=1e-9, err_msg=f"{tier}.{col}"
            )

    def test_gap_fill_locf(self, spark, series_raw, transcripts_pd):
        t1m = R.rollup_raw(series_raw, "1m")
        got = (
            R.gap_fill_locf(t1m)
            .orderBy("conv_id", "metric", "bucket_s")
            .toPandas()
            .reset_index(drop=True)
        )
        ref_series = REF.derive_series_pandas(transcripts_pd)
        want = (
            REF.gap_fill_locf_pandas(REF.rollup_pandas(ref_series, "1m"))
            .sort_values(["conv_id", "metric", "bucket_s"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want)
        np.testing.assert_allclose(got["value"].to_numpy(), want["value"].to_numpy(), atol=1e-9)
        np.testing.assert_array_equal(got["filled"].to_numpy(), want["filled"].to_numpy())
        assert got["filled"].any(), "corpus should contain dropout buckets"

    def test_gap_fill_interpolate_runs(self, spark, series_raw):
        t1m = R.rollup_raw(series_raw, "1m")
        out = R.gap_fill_interpolate(t1m).where("filled").limit(5).toPandas()
        assert (out["value"].notna()).all()

    def test_gap_fill_locf_misaligned_grid(self, spark):
        """r06 internals change (span explode instead of dense-grid
        join): observations off the lo-anchored grid residue must anchor
        the span but contribute no value, exactly like the reference's
        reindex. Buckets {0, 1000, 3600} at step 1000: grid is
        {0,1000,2000,3000}; the 3600 row is off-grid (contributes
        nothing, but extends the grid to 3000)."""
        import pandas as pd

        tier = spark.createDataFrame(
            [("c", "m", 0, 10.0), ("c", "m", 1000, 20.0), ("c", "m", 3600, 99.0)],
            "conv_id string, metric string, bucket_s long, sum double",
        )
        got = (
            R.gap_fill_locf(tier, 1000)
            .orderBy("bucket_s")
            .toPandas()
            .reset_index(drop=True)
        )
        want = REF.gap_fill_locf_pandas(
            pd.DataFrame(
                {
                    "conv_id": ["c"] * 3,
                    "metric": ["m"] * 3,
                    "bucket_s": [0, 1000, 3600],
                    "sum": [10.0, 20.0, 99.0],
                }
            ),
            1000,
        ).sort_values("bucket_s").reset_index(drop=True)
        assert list(got["bucket_s"]) == [0, 1000, 2000, 3000]
        np.testing.assert_allclose(got["value"].to_numpy(), want["value"].to_numpy())
        np.testing.assert_array_equal(got["filled"].to_numpy(), want["filled"].to_numpy())
        # interpolate: off-grid obs is likewise invisible; tail carries
        gi = (
            R.gap_fill_interpolate(tier, 1000)
            .orderBy("bucket_s")
            .toPandas()
            .reset_index(drop=True)
        )
        assert list(gi["bucket_s"]) == [0, 1000, 2000, 3000]
        np.testing.assert_allclose(
            gi["value"].to_numpy(), [10.0, 20.0, 20.0, 20.0]
        )


class TestMatrixProfileOperator:
    def test_fixture_conv_matches_golden(self, spark, series_raw):
        """End-to-end: planted canonical conversation through the Spark
        operator reproduces the Go golden MP/Idx (scale-invariant)."""
        from pyspark.sql import functions as F

        prof = (
            matrix_profile(
                series_raw.where(series_raw.metric == "text_len"), w=4
            )
            .where(F.col("conv_id") == datagen.FIXTURE_CANONICAL)
            .orderBy("offset")
            .toPandas()
        )
        want_mp = [
            0.01435503467833,
            0.01435503467827,
            0.02913869748360,
            0.02913869748363,
            0.01435503467830,
            0.01435503467839,
            0.02913869748350,
            0.02913869748347,
            0.02913869748360,
        ]
        np.testing.assert_allclose(prof["mp"].to_numpy(), want_mp, atol=1e-4)
        np.testing.assert_array_equal(
            prof["idx"].to_numpy(), [4, 5, 6, 7, 0, 1, 2, 3, 4]
        )

    def test_matches_local_kernel(self, spark, series_raw, transcripts_pd):
        """Spark operator ≡ local kernel on every conv's latency series."""
        w = 8
        got = (
            matrix_profile(series_raw.where(series_raw.metric == "inter_turn_latency_s"), w=w)
            .orderBy("conv_id", "offset")
            .toPandas()
        )
        ref_series = REF.derive_series_pandas(transcripts_pd)
        lat = ref_series[ref_series.metric == "inter_turn_latency_s"]
        for conv, grp in lat.groupby("conv_id"):
            vals = grp.sort_values("bucket_s")["value"].to_numpy()
            sub = got[got.conv_id == conv]
            if vals.size < w + 1:
                assert len(sub) == 0
                continue
            local = compute_mp(vals, None, w, MPOpts())
            np.testing.assert_allclose(
                sub["mp"].to_numpy(), local.mp, atol=1e-4, err_msg=conv
            )

    def test_chunked_equals_whole(self, spark, series_raw):
        """Chunked-diagonal distributed MPX ≡ whole-series MPX (values)."""
        src = series_raw.where(series_raw.metric == "text_len")
        whole = (
            matrix_profile(src, w=8)
            .select("conv_id", "offset", "mp")
            .orderBy("conv_id", "offset")
            .toPandas()
        )
        chunked = (
            matrix_profile_chunked(src, w=8, n_batches=4)
            .select("conv_id", "offset", "mp")
            .orderBy("conv_id", "offset")
            .toPandas()
        )
        assert len(whole) == len(chunked)
        np.testing.assert_allclose(
            chunked["mp"].to_numpy(), whole["mp"].to_numpy(), atol=1e-7
        )

    def test_discover_tables(self, spark, series_raw):
        motifs, discords, segments, _ = discover(
            series_raw.where(series_raw.metric == "text_len"), w=6
        )
        m = motifs.toPandas()
        d = discords.toPandas()
        s = segments.toPandas()
        assert len(d) > 0 and len(s) > 0
        assert set(m.columns) == {"conv_id", "metric", "w", "group", "idx", "min_dist"}
        assert (d["rank"] >= 0).all()

    def test_discover_surfaces_short_series(self, spark):
        """Series below the max(2w, w+4) floor are reported in the
        skipped table, never silently dropped."""
        import pandas as pd

        rows = []
        for cid, npts in (("short", 8), ("long", 64)):
            for i in range(npts):
                rows.append((cid, "m", float(i), float(i % 7) + (i * 0.13 % 1)))
        src = spark.createDataFrame(
            pd.DataFrame(rows, columns=["conv_id", "metric", "bucket_s", "value"])
        )
        motifs, discords, segments, skipped = discover(src, w=6)
        sk = skipped.toPandas()
        assert set(sk["conv_id"]) == {"short"}
        assert (sk["series_len"] == 8).all()
        assert (sk["min_len_required"] == 12).all()
        assert "short" not in set(discords.toPandas()["conv_id"])
        assert "long" in set(segments.toPandas()["conv_id"])


class TestGoldenDiscoveryThroughSpark:
    def test_motif_fixture_end_to_end(self, spark, series_raw):
        """Planted golden motif conversation through the Spark discover
        operator reproduces the Go golden groups and MinDists
        (matrixprofile_test.go:801-878; scale-invariant)."""
        from pyspark.sql import functions as F
        from go_matrixprofile_spark.kernels import MPOpts

        src = series_raw.where(
            (series_raw.conv_id == datagen.FIXTURE_MOTIF)
            & (series_raw.metric == "text_len")
        )
        motifs, discords, _, _ = discover(
            src, w=7, opts=MPOpts(algorithm="stomp")
        )
        m = motifs.orderBy("group").toPandas()
        assert [list(x) for x in m["idx"]] == [[0, 14], [0, 7], [3, 10]]
        np.testing.assert_allclose(
            m["min_dist"].to_numpy(),
            [0.1459619228330262, 0.3352336136782056, 0.46369664551715467],
            atol=1e-7,
        )
