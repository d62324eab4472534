"""What the benchmark observes from outside the package: process memory
from ``/proc``, Spark's own status stores, and layer spans.

Spark metrics come from ``AppStatusStore`` (jobs, stages, tasks) and
``SQLAppStatusStore`` (per-operator SQL metrics such as the Python
worker time of a ``MapInPandas``).  Both are kept with
``spark.ui.enabled=false`` and are read through py4j.  Each span runs
its Spark actions under a job group named after the span, which is how
jobs, stages and SQL executions are attributed to a layer call.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------- stats


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, sample count); (0, 0, n) if n < 11."""
    n = len(xs)
    beyond = 10
    if n <= beyond:
        return 0.0, 0, n
    s = sorted(xs)
    k = n - beyond - 1  # index of the last sample with >= 10 above it
    return s[k], int(100 * (k + 1) / n), n


def error_line(e: BaseException) -> str:
    """The most telling line of an exception: the last ``...Error: ...``
    line of a Python worker traceback, else the first line."""
    lines = [ln.strip() for ln in str(e).strip().splitlines() if ln.strip()] or [""]
    told = [ln for ln in lines if re.match(r"[\w.]*(Error|Exception): ", ln)]
    return f"{type(e).__name__}: {(told[-1] if told else lines[0])[:400]}"


# ------------------------------------------------------------------ RSS


def _children_map():
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the summed RSS of a process tree every ``period`` s in a
    daemon thread and keeps the peak.  ``roots`` is re-read each sample,
    so the tree may change (a job subprocess starts and ends)."""

    def __init__(self, period: float = 0.2):
        self.roots: list[int] = []
        self.peak_mb = 0.0
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.wait(self._period):
            self.sample()

    def sample(self):
        mb = sum(tree_rss_mb(r) for r in list(self.roots))
        self.peak_mb = max(self.peak_mb, mb)

    def stop(self):
        self._stop.set()
        self._thread.join()
        self.sample()


# ---------------------------------------------------- Spark status stores

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "arrow_bytes_in",
    "data returned from Python workers": "arrow_bytes_out",
}


def _parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: '10.3 s' or
    'total (min, med, max (stageId: taskId))\\n97.3 KiB (...)'."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    v, unit = float(m.group(1).replace(",", "")), m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkStats:
    """Reads per-job-group metrics out of the two status stores."""

    ENGINE_KEYS = (
        "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "executor_run_s", "executor_cpu_s",
    )

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def drain(self):
        self.jsc.listenerBus().waitUntilEmpty(30000)

    def job_count(self) -> int:
        self.drain()
        return self.jsc.statusStore().jobsList(None).size()

    def groups(self, wanted: set[str]) -> dict[str, dict]:
        """Engine metrics for every job group in ``wanted``."""
        self.drain()
        st = self.jsc.statusStore()
        out = {g: dict.fromkeys(self.ENGINE_KEYS, 0)
               | {"input_records": 0, "scan_stages": 0, "_stages": []}
               for g in wanted}
        it = st.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = _opt(j.jobGroup())
            if g not in out:
                continue
            rec = out[g]
            rec["jobs"] += 1
            for sid in self.conv.asJava(j.stageIds()):
                s = st.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += s.numCompleteTasks()
                rec["shuffle_read_bytes"] += s.shuffleReadBytes()
                rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
                rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                rec["executor_run_s"] += s.executorRunTime() / 1e3
                rec["executor_cpu_s"] += s.executorCpuTime() / 1e9
                rec["input_records"] += s.inputRecords()
                rec["scan_stages"] += s.inputRecords() > 0
                rec["_stages"].append((sid, s.attemptId(), s))
        for g, rec in out.items():
            rec.update(self._heaviest_stage(st, rec.pop("_stages")))
        for g, py in self._python_metrics(wanted).items():
            out[g].update(py)
        return out

    @staticmethod
    def _heaviest_stage(st, stages) -> dict:
        """Wall, task count and skew (max / median task run time) of the
        stage with the most executor run time: the kernel stage of a
        profile call."""
        if not stages:
            return {"heavy_stage_s": 0.0, "heavy_stage_tasks": 0, "heavy_stage_skew": 0.0}
        sid, att, s = max(stages, key=lambda x: x[2].executorRunTime())
        sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
        wall = (done.getTime() - sub.getTime()) / 1e3 if sub and done else 0.0
        runs = []
        it = st.taskList(sid, att, 1 << 20).iterator()
        while it.hasNext():
            m = _opt(it.next().taskMetrics())
            if m is not None:
                runs.append(m.executorRunTime())
        med = median(runs)
        return {
            "heavy_stage_s": wall,
            "heavy_stage_tasks": s.numCompleteTasks(),
            "heavy_stage_skew": max(runs) / med if med else 0.0,
        }

    def _python_metrics(self, wanted: set[str]) -> dict[str, dict]:
        sq = self.spark._jsparkSession.sharedState().statusStore()
        out = {g: dict.fromkeys(_PY_METRICS.values(), 0.0) for g in wanted}
        it = sq.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            g = e.description()
            if g not in out:
                continue
            values = sq.executionMetrics(e.executionId())
            seen = set()
            mit = e.metrics().iterator()
            while mit.hasNext():
                pm = mit.next()
                key = _PY_METRICS.get(pm.name())
                if key is None or pm.accumulatorId() in seen:
                    continue
                seen.add(pm.accumulatorId())
                v = _opt(values.get(pm.accumulatorId()))
                if v:
                    out[g][key] += _parse_sql_metric(v)
        return out


# ---------------------------------------------------------------- spans


class Tracer:
    """One span per layer call: name, layer, start, end, parent, run id.

    Spans stay in memory; ``resolve`` attaches each span's Spark
    metrics after the traced pass, and ``dump`` writes them when the
    run ends.  A disabled tracer's ``span`` does nothing at all."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    def _set_group(self, rec):
        sc = self.spark.sparkContext
        if rec is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(rec["group"], rec["group"], False)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield {}
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._n, "name": name, "layer": layer, "run_id": self.run_id,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self.run_id}-{self._n}", "counts": {},
        }
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        except BaseException as e:
            rec["error"] = error_line(e)
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    def resolve(self, stats: SparkStats, spans: list[dict]) -> None:
        """Attach each span's Spark metrics (read after the pass, so the
        status-store reads stay out of the span times)."""
        got = stats.groups({s["group"] for s in spans})
        for s in spans:
            s["spark"] = got[s["group"]]

    @staticmethod
    def self_times(spans: list[dict]) -> dict[int, float]:
        """Span duration minus the time its (sequential) children cover."""
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}
