"""Steadiness check: run one workload k times and print each metric's
median, quartiles and IQR/median beside its bound.

    python3 perfbench/steady.py --workload doc_dedup --runs 10 [--sets 2]

Run ``s`` uses seed ``--seed0 + s``; with ``--sets 2`` a second set
reuses the same seeds, and the check "two sets of runs agree" is printed
per metric: the second median may not be worse than the first by more
than the metric's bound.  A metric is steady when IQR/median is below a
third of its bound (``setup_s`` is exempt from the spread rule).  Batch
latencies are pooled across the runs, so ``batch_tail_s`` gets the
samples a single run is too short to hold.  Quartiles are
``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from observe import tail  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed (exit {p.returncode}):\n{p.stderr[-2000:]}")
    summary = next(json.loads(ln[len("perfbench "):]) for ln in lines if ln.startswith("perfbench "))
    return json.loads(lines[-1]), summary


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m for m in spec["end_to_end"]}

    medians: list[dict] = []
    ok = True
    for s in range(args.sets):
        vals: dict[str, list[float]] = {k: [] for k in bounds}
        batches: list[float] = []
        bad = 0
        for r in range(args.runs):
            res, summary = run_once(args.workload, args.seed0 + r, seconds)
            bad += not res["correct"]
            batches += summary["batch_s"]
            for k in bounds:
                v = res["metrics"][k]["value"]
                vals[k].append(float("nan") if v is None else v)
            print(f"set {s + 1} run {r + 1} seed {args.seed0 + r}: correct={res['correct']} "
                  f"probe_16k_ms={summary['kernels.probe_16k_ms']} "
                  + " ".join(f"{k}={res['metrics'][k]['value']:.4f}" for k in bounds
                             if res["metrics"][k]["value"] is not None), flush=True)
        print(f"\n{args.workload} set {s + 1}: {args.runs} runs, {bad} incorrect")
        print(f"  {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>10}{'bound':>8}  verdict")
        medians.append({})
        for k, m in bounds.items():
            med, q1, q3, rel = spread(vals[k])
            medians[-1][k] = med
            if k == "setup_s":
                verdict = "spread not gated"
            elif rel < m["bound"] / 3:
                verdict = "steady"
            elif rel <= m["bound"]:
                verdict = "within bound, not steady"
            else:
                verdict = "TOO NOISY"
                ok = False
            print(f"  {k:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{rel:>10.4f}{m['bound']:>8}  {verdict}")
        if batches:
            tv, tp, tn = tail(batches)
            print(f"  pooled batches: p50 {statistics.median(batches):.4f} s, "
                  + (f"tail p{tp} {tv:.4f} s (n={tn})" if tp else f"no tail (n={tn})"))
        ok &= bad == 0
    if args.sets == 2:
        print("\nagreement of set 2 with set 1 (worse-direction change / bound):")
        for k, m in bounds.items():
            a, b = medians
            change = (b[k] - a[k]) / a[k] if a[k] else 0.0
            worse = change if m["better"] == "lower" else -change
            agree = worse <= m["bound"]
            ok &= agree
            print(f"  {k:<14}{a[k]:>12.4f}{b[k]:>12.4f}{change:>+10.4f}{m['bound']:>8}  "
                  + ("agree" if agree else "DISAGREE"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
