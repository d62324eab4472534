"""Whole-series Python kernel stages: one wave of tasks, one task per
series while the fleet is no larger than the core count — for every
operator that runs a kernel per series, not only the MP one."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_matrixprofile_spark.operators import profile as P

N = 300


def _values(k, n=N):
    rng = np.random.default_rng(7)
    return {f"c{i:02d}": rng.standard_normal(n).cumsum() for i in range(k)}


def _long(spark, k):
    rows = [
        (conv_id, "m", float(t), float(v))
        for conv_id, vals in _values(k).items()
        for t, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "conv_id string, metric string, bucket_s double, value double")


def _arrays(spark, k):
    rows = [(conv_id, "m", vals.tolist()) for conv_id, vals in _values(k).items()]
    return spark.createDataFrame(rows, "conv_id string, metric string, vals array<double>")


def _dims(spark, k):
    vals = _values(2 * k)
    rows = [
        (f"c{i:02d}", dim, float(t), float(v))
        for i in range(k)
        for dim, key in (("a", f"c{2 * i:02d}"), ("b", f"c{2 * i + 1:02d}"))
        for t, v in enumerate(vals[key])
    ]
    return spark.createDataFrame(rows, "conv_id string, dim string, bucket_s double, value double")


# each builds one kernel stage over a fleet of k series; output keeps conv_id
KERNELS = {
    "matrix_profile_assembled": lambda spark, k: P.matrix_profile_assembled(_arrays(spark, k), w=16),
    "discover": lambda spark, k: P.discover(_long(spark, k), w=16)[2],
    "k_matrix_profile": lambda spark, k: P.k_matrix_profile(_dims(spark, k), w=16),
    "pan_matrix_profile_distributed": lambda spark, k: P.pan_matrix_profile_distributed(_long(spark, k), 14, 16),
    "streaming_update_check": lambda spark, k: P.streaming_update_check(_long(spark, k), w=16),
}


def _placement(spark, name, k):
    out = KERNELS[name](spark, k)
    tagged = out.select("conv_id", F.spark_partition_id().alias("pid")).distinct()
    return out.rdd.getNumPartitions(), [(r.conv_id, r.pid) for r in tagged.collect()]


@pytest.mark.parametrize("name", sorted(KERNELS))
class TestKernelPlacement:
    def test_fleet_of_cores_gets_one_task_per_series(self, spark, name):
        cores = spark.sparkContext.defaultParallelism
        n_parts, placed = _placement(spark, name, cores)
        assert n_parts <= cores
        pids = dict(placed)
        assert len(placed) == len(pids) == cores, "a series was split across tasks"
        assert len(set(pids.values())) == cores, f"two series share a task: {pids}"

    def test_larger_fleet_balanced_by_series_count(self, spark, name):
        cores = spark.sparkContext.defaultParallelism
        n_parts, placed = _placement(spark, name, 3 * cores)
        assert n_parts <= cores
        per_task = np.bincount([pid for _, pid in placed], minlength=cores)
        assert sorted(per_task.tolist()) == [3] * cores


class TestPerSeriesKernels:
    """k_matrix_profile and streaming_update_check read one array row
    per series; their output matches the local kernels."""

    def test_k_matrix_profile_equals_local_kmp(self, spark):
        from go_matrixprofile_spark.kernels.kmp import KMP

        vals = _values(4)
        got = P.k_matrix_profile(_dims(spark, 2), w=16).toPandas()
        for i in range(2):
            want = KMP([vals[f"c{2 * i:02d}"], vals[f"c{2 * i + 1:02d}"]], 16).compute()
            conv = got[got.conv_id == f"c{i:02d}"].sort_values(["level", "offset"])
            assert len(conv) == want.mp.size
            np.testing.assert_allclose(conv.mp.to_numpy(), want.mp.ravel(), rtol=0, atol=1e-12)
            np.testing.assert_array_equal(conv.idx.to_numpy(), want.idx.ravel())

    def test_k_matrix_profile_skips_unaligned_dims(self, spark):
        # dim b misses one bucket: the pivot leaves a NaN, no profile
        src = _dims(spark, 1).where("NOT (dim = 'b' AND bucket_s = 5)")
        assert P.k_matrix_profile(src, w=16).count() == 0

    def test_update_check_equals_recompute(self, spark):
        # shuffled input rows: the series is assembled in bucket order
        got = (
            P.streaming_update_check(_long(spark, 2).orderBy(F.rand(3)), w=16)
            .orderBy("conv_id")
            .collect()
        )
        assert [(r.conv_id, r.metric, r.n, r.n_new) for r in got] == [
            ("c00", "m", N, N - int(N * 0.8)),
            ("c01", "m", N, N - int(N * 0.8)),
        ]
        assert max(r.max_abs_diff for r in got) < 1e-9
