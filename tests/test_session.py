"""Session factory: driver heap sized to the host, warm-up once per context."""

import os

import pytest

from go_matrixprofile_spark.session import driver_memory, get_spark


class TestDriverMemory:
    @pytest.mark.parametrize(
        "gib,want",
        [(15.7, "7g"), (16, "8g"), (1, "1g"), (3, "1g"), (64, "32g"), (96, "48g"), (512, "48g")],
    )
    def test_half_of_host_capped(self, gib, want):
        assert driver_memory(int(gib * 2**30)) == want


class TestWarmUp:
    def test_second_get_spark_runs_no_jobs(self, spark):
        """get_spark() on a live, already warmed context returns it
        without rerunning the warm-up jobs."""
        if os.environ.get("SPARK_GRAFT_NO_WARMUP") == "1":
            pytest.skip("warm-up disabled by SPARK_GRAFT_NO_WARMUP=1")
        jsc = spark.sparkContext._jsc.sc()

        def jobs():
            jsc.listenerBus().waitUntilEmpty(30000)
            return jsc.statusStore().jobsList(None).size()

        before = jobs()
        again = get_spark("pytest", cores=4, shuffle_partitions=8)
        assert again.sparkContext is spark.sparkContext
        assert jobs() == before
