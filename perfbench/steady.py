#!/usr/bin/env python3
"""Steadiness check: run one workload k times with k different seeds and
summarize every metric's spread.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--seed0 1]
                                [--seconds S] [--trace 0|1]

For each metric it prints the median, the quartiles (as Python's
statistics.quantiles(values, n=4) gives them), min, max, and the spread
(q3 - q1) / median next to the metric's bound in BENCHMARK.json. Every
run's ambient readings (nproc, heap, Spark version, calibration kernel
time and load average before and after) are kept with it. The summary is
also written to perfbench/out/steady-<workload>-trace<t>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run with seed {seed} failed ({r.returncode})")
    def tagged(tag):
        return next((json.loads(l[len(tag) + 1:]) for l in lines
                     if l.startswith(tag + " ")), {})
    return json.loads(lines[-1]), tagged("ambient"), tagged("samples")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    runs = []
    for i in range(a.runs):
        seed = a.seed0 + i
        res, ambient, samples = run_once(a.workload, seed, seconds, a.trace)
        runs.append({"seed": seed, "result": res, "ambient": ambient,
                     "samples": samples})
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} calib_s={ambient.get('calib_s')} "
              f"loadavg={ambient.get('loadavg')}", flush=True)

    summary = {}
    names = runs[0]["result"]["metrics"].keys()
    print(f"\n{'metric':36s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'min':>10s} {'max':>10s} {'spread':>7s} {'bound':>6s}")
    for n in names:
        xs = [r["result"]["metrics"][n]["value"] for r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        summary[n] = {"median": med, "q1": q1, "q3": q3, "min": min(xs),
                      "max": max(xs), "spread": spread, "values": xs}
        b = bounds.get(n)
        print(f"{n:36s} {med:10.4g} {q1:10.4g} {q3:10.4g} {min(xs):10.4g} "
              f"{max(xs):10.4g} {spread:7.3f} {b if b is not None else '':>6}")
    out = HERE / "out"
    out.mkdir(exist_ok=True)
    path = out / f"steady-{a.workload}-trace{a.trace}.json"
    path.write_text(json.dumps({"workload": a.workload, "seconds": seconds,
                                "runs": runs, "summary": summary}, indent=1))
    print(f"\nwritten to {path.relative_to(ROOT)}")


if __name__ == "__main__":
    main()
