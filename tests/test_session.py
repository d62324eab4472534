"""Session factory: driver heap sized to the host, warm-up once per context,
the same MPX sweep on the driver and in every Python worker, and local
workers that import the driver's pyspark tree and this package from any cwd."""

import logging
import os
import subprocess
import sys
import textwrap
import weakref
import zipfile

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
        again = get_spark("pytest", cores=4)
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

    def test_failed_warm_up_is_logged(self, spark, monkeypatch, caplog):
        """A worker pool that cannot start must not pass the warm-up
        silently: session creation goes on, with one WARNING naming the
        error's first line."""
        if os.environ.get("SPARK_GRAFT_NO_WARMUP") == "1":
            pytest.skip("warm-up disabled by SPARK_GRAFT_NO_WARMUP=1")

        def broken(_spark):
            raise RuntimeError("python worker daemon exited\nstack trace line")

        monkeypatch.setattr(session, "_warmed", weakref.WeakSet())
        monkeypatch.setattr(session, "_fork_python_workers", broken)
        with caplog.at_level(logging.INFO, logger=session.__name__):
            session._warm_up(spark)
        warnings = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
        assert warnings == ["session warm-up failed: RuntimeError: python worker daemon exited"]


class TestWorkerPath:
    def test_workers_import_the_drivers_pyspark(self, spark):
        """Local workers import the installed pyspark tree the driver
        runs, and hold no zipimporter over pyspark.zip or a jar: each
        one re-reads its archive's directory on every task."""
        import pyspark

        def report(it):
            import sys

            import pandas as pd
            import pyspark

            for _ in it:
                pass
            zips = [
                k
                for k, v in sys.path_importer_cache.items()
                if type(v).__name__ == "zipimporter" and ("pyspark.zip" in k or ".jar" in k)
            ]
            yield pd.DataFrame({"pyspark": [pyspark.__file__], "zips": [len(zips)]})

        n = spark.sparkContext.defaultParallelism
        rows = spark.range(0, n, 1, n).mapInPandas(report, "pyspark string, zips int").collect()
        assert {os.path.dirname(r.pyspark) for r in rows} == {os.path.dirname(pyspark.__file__)}
        assert {r.zips for r in rows} == {0}

    def test_package_imports_from_any_cwd(self, tmp_path):
        """A driver started outside the repository, with no PYTHONPATH,
        still has workers that import the package."""
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = tmp_path / "driver.py"
        script.write_text(
            textwrap.dedent(
                f"""
                import sys
                sys.path.insert(0, {root!r})
                from go_matrixprofile_spark.session import get_spark

                def kernel(it):
                    import pandas as pd
                    from go_matrixprofile_spark.kernels import matrix_profile
                    for _ in it:
                        pass
                    yield pd.DataFrame({{"ok": [callable(matrix_profile.diag_sweep)]}})

                spark = get_spark("cwd-test", cores=2)
                rows = spark.range(0, 2, 1, 2).mapInPandas(kernel, "ok boolean").collect()
                print("WORKERS", sorted(r.ok for r in rows))
                spark.stop()
                """
            )
        )
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env.update(SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_NO_WARMUP="1")
        proc = subprocess.run(
            [sys.executable, str(script)],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert "WORKERS [True, True]" in proc.stdout

    def test_add_py_file_mid_session(self, spark, tmp_path):
        """addPyFile of a .py module and of a zipped package, after the
        workers are up, imports inside a UDF: PySpark still puts each
        include on the worker's path and invalidates the import caches."""
        mod = tmp_path / "gmps_added_module.py"
        mod.write_text("VALUE = 40\n")
        pkg_zip = tmp_path / "gmps_added_pkg.zip"
        with zipfile.ZipFile(pkg_zip, "w") as z:
            z.writestr("gmps_added_pkg/__init__.py", "VALUE = 2\n")
        sc = spark.sparkContext
        n = sc.defaultParallelism
        spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").count()
        sc.addPyFile(str(mod))
        sc.addPyFile(str(pkg_zip))

        def use(it):
            import gmps_added_module
            import gmps_added_pkg
            import pandas as pd

            for _ in it:
                pass
            yield pd.DataFrame({"v": [gmps_added_module.VALUE + gmps_added_pkg.VALUE]})

        rows = spark.range(0, n, 1, n).mapInPandas(use, "v long").collect()
        assert [r.v for r in rows] == [42] * n


class TestWorkerDaemon:
    def test_drops_archives_when_pyspark_imports_without_them(self, monkeypatch):
        import pyspark

        from go_matrixprofile_spark import worker_daemon

        tree = os.path.dirname(os.path.dirname(pyspark.__file__))
        zip_, jar = "/spark/python/lib/pyspark.zip", "/spark/jars/spark-core.jar"
        monkeypatch.setattr(sys, "path", ["/cwd", zip_, jar, tree])
        monkeypatch.setattr(
            sys, "path_importer_cache",
            {zip_: "zip", zip_ + "/pyspark/sql": "zip", jar + "/org": "jar", "/other.zip": "zip"},
        )
        worker_daemon.drop_archives()
        assert sys.path == ["/cwd", tree]
        assert not [k for k in sys.path_importer_cache if k.startswith((zip_, jar))]
        assert sys.path_importer_cache["/other.zip"] == "zip"

    def test_keeps_the_zip_when_pyspark_is_only_there(self, monkeypatch):
        from go_matrixprofile_spark import worker_daemon

        path = ["/cwd", "/spark/python/lib/pyspark.zip", "/spark/jars/spark-core.jar"]
        monkeypatch.setattr(sys, "path", list(path))
        monkeypatch.setattr(sys, "path_importer_cache", {})
        worker_daemon.drop_archives()
        assert sys.path == path


class TestKernelBackend:
    def test_workers_load_the_drivers_sweep(self, spark):
        """Every Python worker dispatches to the same diag_sweep path as
        the driver: a worker that silently fell back to NumPy (other HOME
        or cache path) or to a narrower vector path would lose kernel
        speed unseen."""
        from go_matrixprofile_spark.kernels import matrix_profile as mpm

        def report(it):
            import pandas as pd

            from go_matrixprofile_spark.kernels import matrix_profile as m

            for _ in it:
                yield pd.DataFrame({"path": [m.sweep_path]})

        n = spark.sparkContext.defaultParallelism
        rows = spark.range(0, 2 * n, 1, 2 * n).mapInPandas(report, "path string").collect()
        assert len(rows) == 2 * n
        assert {r.path for r in rows} == {mpm.sweep_path}


class TestClassArchive:
    """The driver JVM of a local session maps a per-host class archive
    (JDK dynamic CDS), recorded once per key by a child process."""

    def test_key_follows_the_jars_and_the_java_binary(self, tmp_path):
        jars = tmp_path / "jars"
        jars.mkdir()
        (jars / "a.jar").write_bytes(b"a")
        (jars / "b.jar").write_bytes(b"b")
        java, other = tmp_path / "java", tmp_path / "java17"
        java.write_bytes(b"java")
        other.write_bytes(b"java")
        key = session._archive_key(str(java), str(jars))
        assert session._archive_key(str(java), str(jars)) == key

        st = os.stat(jars / "a.jar")
        os.utime(jars / "a.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        mtime_key = session._archive_key(str(java), str(jars))
        (jars / "a.jar").write_bytes(b"aa")
        os.utime(jars / "a.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        size_key = session._archive_key(str(java), str(jars))
        java_key = session._archive_key(str(other), str(jars))
        assert len({key, mtime_key, size_key, java_key}) == 4

    @pytest.mark.parametrize("files,records", [(["spark-defaults.conf.template"], True),
                                               (["spark-defaults.conf.template", "spark-defaults.conf"], False)])
    def test_a_conf_dir_of_templates_qualifies(self, tmp_path, monkeypatch, caplog, files, records):
        conf = tmp_path / "conf"
        conf.mkdir()
        for f in files:
            (conf / f).write_text("spark.driver.memory 2g\n")
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
        for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
            monkeypatch.delenv(var, raising=False)
        calls = []
        monkeypatch.setattr(session, "_record", lambda *a: calls.append(a) or ("recorded", a[1]))
        with caplog.at_level(logging.INFO, logger=session.__name__):
            got = session._class_archive(2, {})
        if records:
            (archive, conf_dir, cores), = calls
            assert archive.startswith(str(tmp_path / "cache" / "go_matrixprofile_spark" / "spark-classes-"))
            assert got == ("recorded", conf_dir) and cores == 2
        else:
            assert got == (None, None) and not calls
            assert f"no class archive: the Spark conf dir {conf} holds spark-defaults.conf" in caplog.messages

    def test_the_callers_java_options_follow_the_archive_flags(self):
        opts = session._replay_options("/c/a.jsa", {"spark.driver.extraJavaOptions": "-Xss4m -Dk=v"})
        assert opts.split() == [
            "-XX:SharedArchiveFile=/c/a.jsa", "-Xlog:cds*=off", "-Xlog:cds*=warning:stderr",
            "-Xss4m", "-Dk=v",
        ]

    def test_a_held_lock_starts_without_an_archive_at_once(self, tmp_path, caplog):
        """A second process that finds the archive being recorded starts
        without one instead of waiting for it."""
        import fcntl
        import time

        archive = tmp_path / "spark-classes-k.jsa"
        with open(tmp_path / "spark-classes-k.lock", "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            t0 = time.perf_counter()
            with caplog.at_level(logging.INFO, logger=session.__name__):
                got = session._record(str(archive), str(tmp_path / "conf"), 2)
            assert time.perf_counter() - t0 < 1
        assert got == (None, None) and not archive.exists()
        assert caplog.messages == [f"no class archive: another process is recording {archive}"]

    DRIVER = textwrap.dedent(
        """
        import logging, os, sys
        sys.path.insert(0, {root!r})
        logging.basicConfig(stream=sys.stdout, format="LOG %(levelname)s %(message)s")
        logging.getLogger("go_matrixprofile_spark.session").setLevel(logging.INFO)
        from go_matrixprofile_spark.session import get_spark

        spark = get_spark("archive-test", cores=2, extra_conf={extra_conf!r})
        # processes still running from the recording: its child python
        # or its JVM, both named with a temp file in this cache
        cache = os.environ.get("XDG_CACHE_HOME")
        left = []
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{{pid}}/cmdline", "rb") as f:
                    cmd = f.read().replace(b"\\0", b" ").decode(errors="replace")
            except OSError:
                continue
            if cache in cmd and ("_record_classes" in cmd or "ArchiveClassesAtExit" in cmd):
                left.append(pid)
        print("LEFT", len(left))
        print("COUNT", spark.range(0, 10, 1, 2).count())
        spark.stop()
        """
    )

    def _drive(self, tmp_path, cache, extra_conf=None):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = tmp_path / "driver.py"
        script.write_text(self.DRIVER.format(root=root, extra_conf=extra_conf or {}))
        env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEMORY="1g",
                   SPARK_GRAFT_NO_WARMUP="1")
        proc = subprocess.run(
            [sys.executable, str(script)],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        return proc.stdout.splitlines()

    def test_records_once_then_replays(self, tmp_path):
        """The first session records the archive and leaves no process
        behind; the next maps SparkContext's class from it, with the
        caller's own JVM options still applied."""
        cache = tmp_path / "cache"
        first = self._drive(tmp_path, cache)
        archives = sorted((cache / "go_matrixprofile_spark").glob("spark-classes-*.jsa"))
        assert len(archives) == 1
        assert f"LOG INFO recorded {archives[0]}" in " ".join(first)
        assert "LEFT 0" in first and "COUNT 10" in first
        assert not [x for x in first if x.startswith("LOG WARNING")]
        assert not list((cache / "go_matrixprofile_spark").glob("*.tmp"))

        classes = tmp_path / "classes.log"
        second = self._drive(
            tmp_path, cache, {"spark.driver.extraJavaOptions": f"-Xlog:class+load:file={classes}"}
        )
        assert f"LOG INFO replaying {archives[0]}" in second
        assert "COUNT 10" in second
        assert not [x for x in second if "cds" in x]
        loads = [x for x in classes.read_text().splitlines() if "org.apache.spark.SparkContext " in x]
        assert loads and loads[0].endswith("source: shared objects file (top)"), loads

    def test_an_unusable_cache_dir_warns_once(self, tmp_path):
        """A cache dir under a regular file: one WARNING, no archive, and
        the session still runs a query."""
        blocker = tmp_path / "not-a-dir"
        blocker.write_text("")
        out = self._drive(tmp_path, blocker)
        warnings = [x for x in out if x.startswith("LOG WARNING")]
        assert len(warnings) == 1 and "class archive not recorded" in warnings[0], out
        assert "LOG INFO no class archive: recording failed" in out
        assert "COUNT 10" in out
