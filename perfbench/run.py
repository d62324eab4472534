"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mp_fleet_16k --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run pins the Spark session to the
host (``local[nproc-1]``, a 1 GiB driver heap),
builds the workload's inputs from ``--seed`` (set-up), runs the
workload's pass in a closed loop with one client for ``--seconds``,
checks every output, and prints a human-readable summary followed by
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``; with ``--trace 1`` passes alternate between
untraced and traced, and the metrics are the ``per_layer`` ones.  The
spans of a traced run are written to ``.perfbench_work/traces/``.
See ``perfbench/README.md`` for what each metric means.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def host_pins() -> tuple[int, str]:
    """Spark cores: nproc - 1, leaving one CPU to the driver JVM (GC, JIT,
    scheduling) and this client, so that a pass is not stretched by one
    straggling task.  Driver heap: 1 GiB.  The session default of 48g
    overcommits small hosts (the OOM-killer ends the JVM); the
    benchmark's inputs need well under 1 GiB, and a heap that size
    reaches its steady footprint early in a run, so peak RSS repeats
    (a 3 GiB heap kept growing through a run: its peak followed how many
    passes fitted in, not the program)."""
    return max(1, len(os.sched_getaffinity(0)) - 1), "1g"


def probe_16k_ms() -> float:
    """Host-speed probe, bench.py's load probe: one single-thread
    16,384-point w=128 MPX, after a 2,048-point warm-up (bench.py warms
    up at full size; the small one takes the first-call costs for a
    tenth of the time, and every run pays for the probe)."""
    import numpy as np

    from go_matrixprofile_spark.kernels.matrix_profile import MPOpts, compute_mp

    rng = np.random.default_rng(5)
    sig = np.sin(np.linspace(0, 40 * np.pi, 16384)) + 0.1 * rng.standard_normal(16384)
    compute_mp(sig[:2048], None, 128, MPOpts(algorithm="mpx"))
    t0 = time.perf_counter()
    compute_mp(sig, None, 128, MPOpts(algorithm="mpx"))
    return (time.perf_counter() - t0) * 1e3


def kernel_ms(seed: int, n: int, w: int, reps: int) -> float:
    """Median single-thread compute_mp on one series of the workload's
    own shape, in-process, outside Spark."""
    from go_matrixprofile_spark.kernels.matrix_profile import MPOpts, compute_mp

    import inputs
    from observe import median

    sig = inputs.reference_series(seed, 0, n)
    compute_mp(sig, None, w, MPOpts(algorithm="mpx"))
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        compute_mp(sig, None, w, MPOpts(algorithm="mpx"))
        times.append((time.perf_counter() - t0) * 1e3)
    return median(times)


LAYER_SHORT = {
    "sources": "sources", "operators.series": "series", "operators.rollup": "rollup",
    "operators.profile": "profile", "operators.profile.discover": "profile",
    "functions.compress": "compress", "plans.lineage": "lineage",
    "streaming": "streaming", "operators.dedup": "dedup",
    "operators.simsearch": "simsearch", "operators.text": "text",
    "jobs": "jobs", "client": "client",
}

def layer_metrics(wl, ctx, names, passes, untraced, setup_spans, session_s, warmup_jobs):
    """Per-layer metrics: medians over the traced passes."""
    from observe import Tracer, median

    per_pass = []
    for spans, out in passes:
        m = dict.fromkeys(names, 0.0)
        selfs = Tracer.self_times(spans)
        for s in spans:
            m[f"{LAYER_SHORT[s['layer']]}.self_s"] += selfs[s["id"]]
            for k in ctx.stats.ENGINE_KEYS:
                m[f"spark.{k}"] += s["spark"][k]
        m.update(wl.layers(ctx, spans, out))
        m["trace.traced_wall_s"] = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
        per_pass.append(m)
    res = {k: median([m[k] for m in per_pass]) for k in names}
    res["session.get_spark_s"] = session_s
    res["session.warmup_jobs"] = warmup_jobs
    for s in setup_spans:
        if s["name"] == "operators.profile.assemble_series":
            res["profile.assemble_s"] = s["end"] - s["start"]
    res["trace.untraced_wall_s"] = median(untraced)
    res["trace.overhead_s"] = res["trace.traced_wall_s"] - res["trace.untraced_wall_s"]
    selfsum = sum(res[k] for k in names if k.endswith(".self_s"))
    res["trace.accounted_share"] = selfsum / res["trace.untraced_wall_s"] if untraced else 0.0
    shape = wl.kernel_shape()
    if shape:
        n_series, n, w = shape
        res["kernels.mpx_ms"] = kernel_ms(ctx.seed, n, w, 3 if n > 4096 else 15)
        stage_s = res["profile.kernel_stage_s"]
        if stage_s:
            res["kernels.busy_share"] = n_series * res["kernels.mpx_ms"] / 1e3 / (ctx.cores * stage_s)
    return res


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "go_matrixprofile_spark")):
        print(f"perfbench: no go_matrixprofile_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # single-threaded BLAS in this process too, set before NumPy loads:
    # kernels.mpx_ms is a single-thread figure, like the Spark Python workers
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    cores, heap = host_pins()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_DRIVER_MEMORY=heap,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    warmup = os.environ.get("SPARK_GRAFT_NO_WARMUP") != "1"

    from go_matrixprofile_spark.session import get_spark
    from observe import RssSampler, SparkStats, Tracer, error_line, median, tail

    spark, sampler, errors = None, RssSampler(), []
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cores=cores)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload]()
        if wl.in_session:
            sampler.roots.append(spark._jvm.java.lang.ProcessHandle.current().pid())
        stats = SparkStats(spark)
        warmup_jobs = stats.job_count()
        tracer = Tracer(spark, f"{args.workload}-{args.seed}", enabled=bool(args.trace))
        ctx = Ctx(spark, args.seed, cores, work, tracer, stats, sampler)

        wl.build(ctx)
        setup_spans = list(tracer.spans)
        # a traced run compares its untraced and traced passes, so even a
        # workload that times its first pass warms up the session first
        # (pipeline_job's untraced passes are fresh job processes)
        for _ in range(max(wl.warm_passes, args.trace * wl.in_session)):
            wl.call(ctx, False)
        setup_s = time.perf_counter() - T_START

        attempted = failed = 0
        walls, traced_walls, raw_walls, passes, batch = [], [], [], [], []
        t_end = time.perf_counter() + args.seconds
        i = 0
        while True:
            traced = bool(args.trace) and i % 2 == 1
            first_span = len(tracer.spans)
            t0 = time.perf_counter()
            try:
                out = wl.call(ctx, traced)
                ok = True
            except Exception as e:  # a failed pass is counted, then the loop goes on
                out, ok = None, False
                errors.append(f"pass {i}: {error_line(e)}")
                traceback.print_exc()
            dt = time.perf_counter() - t0
            attempted += 1
            (traced_walls if traced else walls).append(dt if ok else float("inf"))
            if not traced:
                raw_walls.append(dt)
            if ok:
                if hasattr(wl, "latency"):
                    batch.append(wl.latency)
                for name, good, detail in wl.verify(ctx, out):
                    attempted += 1
                    if not good:
                        failed += 1
                        errors.append(f"check {name} failed: {detail}")
            else:
                failed += 1
            if traced:
                spans = tracer.spans[first_span:]
                tracer.resolve(stats, spans)
                passes.append((spans, out))
            i += 1
            if time.perf_counter() >= t_end and (not args.trace or traced_walls):
                break

        try:
            final = wl.checks(ctx)
        except Exception as e:
            final = [("final_checks", False, f"{type(e).__name__}: {e}")]
        for name, good, detail in final:
            attempted += 1
            if not good:
                failed += 1
                errors.append(f"check {name} failed: {detail}")

        probe = probe_16k_ms()
        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            layers = layer_metrics(wl, ctx, names, passes, raw_walls, setup_spans, session_s,
                                   warmup_jobs)
            layers["kernels.probe_16k_ms"] = probe
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {k: {"value": float(layers[k]), "unit": units[k]} for k in names}
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            trace_path = os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "setup_spans": setup_spans,
                           "passes": [s for s, _ in passes], "layers": layers}, f, indent=1,
                          default=str)
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    wall = median(walls)
    finite = math.isfinite(wall)
    summary = {
        "workload": args.workload, "seed": args.seed, "cores": cores, "driver_heap": heap,
        "warmup": "on" if warmup else "off", "kernels.probe_16k_ms": round(probe, 1),
        "passes": len(walls) + len(traced_walls), "invocation": getattr(wl, "invocation", None),
        "pass_s": [round(w, 4) if math.isfinite(w) else None for w in walls],
        "batch_s": [round(b, 4) for b in batch],
    }
    print("perfbench " + json.dumps(summary))
    rows = [("setup_s", setup_s, "s"), ("wall_s", wall if finite else None, "s"),
            (f"{wl.item}_per_s", wl.items / wall if finite else 0.0, "1/s")]
    if batch:
        p50 = median(batch)
        tv, tp, tn = tail(batch)
        rows += [("batch_p50_s", p50, "s"),
                 (f"batch_tail_s (p{tp}, n={tn})", tv if tp else None, "s")]
    rows += [("peak_rss_mb", sampler.peak_mb, "MB"),
             ("failed_frac", failed / max(attempted, 1), "ratio")]
    for name, v, unit in rows:
        print(f"  {name:<28} {'n/a' if v is None else f'{v:.4f}':>12} {unit}")
    for e in errors:
        print(f"  error: {e}")

    if args.trace:
        for k, v in metrics.items():
            print(f"  {k:<40} {v['value']:>14.4f} {v['unit']}")
        print(f"  spans: {os.path.relpath(trace_path, ROOT)}")
    else:
        values = {"setup_s": setup_s, "wall_s": wall if finite else None,
                  "items_per_s": wl.items / wall if finite else 0.0,
                  "peak_rss_mb": sampler.peak_mb}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
