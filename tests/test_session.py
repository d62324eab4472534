"""Session factory: driver heap sized to the host, warm-up once per context,
the same MPX sweep on the driver and in every Python worker."""

import logging
import os
import weakref

import pytest

from go_matrixprofile_spark import session
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

    def test_arrow_job_is_one_wave(self, spark, monkeypatch, caplog):
        """The warm-up forks the Python worker pool with one task per
        core: every Python task pays a fixed start-up cost, so more tasks
        than cores only adds waves of it. Still one INFO line with the
        warm-up wall."""
        if os.environ.get("SPARK_GRAFT_NO_WARMUP") == "1":
            pytest.skip("warm-up disabled by SPARK_GRAFT_NO_WARMUP=1")
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        group = "test-warm-up-one-wave"
        monkeypatch.setattr(session, "_warmed", weakref.WeakSet())
        sc.setJobGroup(group, group)
        try:
            with caplog.at_level(logging.INFO, logger=session.__name__):
                session._warm_up(spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        walls = [r for r in caplog.records if r.getMessage().startswith("session warm-up took")]
        assert len(walls) == 1

        jsc.listenerBus().waitUntilEmpty(30000)
        sql = spark._jsparkSession.sharedState().statusStore()
        conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        arrow_jobs = set()
        it = sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            if e.description() == group and "MapInPandas" in e.physicalPlanDescription():
                arrow_jobs |= {int(j) for j in conv.asJava(e.jobs().keySet())}
        assert arrow_jobs, "no Arrow job in the warm-up"
        store = jsc.statusStore()
        widths = []
        for jid in arrow_jobs:
            job = store.job(jid)
            for sid in conv.asJava(job.stageIds()):
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() != "SKIPPED":
                    widths.append(stage.numCompleteTasks())
        # the Python stage is the job's widest; the rest is the count's
        # final aggregation
        assert max(widths) == sc.defaultParallelism, widths


class TestKernelBackend:
    def test_workers_load_the_drivers_sweep(self, spark):
        """Every Python worker runs the compiled diag_sweep whenever the
        driver does: a worker that silently fell back to NumPy (other
        HOME or cache path) would lose the kernel speed-up unseen."""
        from go_matrixprofile_spark.kernels import matrix_profile as mpm

        def report(it):
            import pandas as pd

            from go_matrixprofile_spark.kernels import matrix_profile as m

            for _ in it:
                yield pd.DataFrame({"compiled": [m.diag_sweep is not m._diag_sweep_numpy]})

        n = spark.sparkContext.defaultParallelism
        rows = spark.range(0, 2 * n, 1, 2 * n).mapInPandas(report, "compiled boolean").collect()
        assert len(rows) == 2 * n
        assert {r.compiled for r in rows} == {mpm.diag_sweep is not mpm._diag_sweep_numpy}
