"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workload mr_apps --seeds 1-10 [--trace 0]

Runs are sequential, one fresh process each, from the repository root.
For every metric it prints the median, the first and third quartiles
(`statistics.quantiles(values, n=4)`) and the spread, (q3 - q1) / median,
the figure BENCHMARK.json's bounds are compared with. `--out` appends
every run's summary object, with its seed and wall time, as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    """"1-3,7" -> [1, 2, 3, 7]."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread_table(runs: list[dict]) -> list[tuple]:
    """(metric, median, q1, q3, spread) over the runs' metric values."""
    out = []
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        out.append((name, q2, q1, q3, (q3 - q1) / q2 if q2 else 0.0))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True)
    p.add_argument("--seconds", default="10")
    p.add_argument("--trace", default="0")
    p.add_argument("--out")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench.run import parse_summary

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        if proc.returncode:
            print(f"seed {seed}: exit {proc.returncode}")
            print(proc.stderr[-3000:])
            return 1
        res = parse_summary(proc.stdout)
        res.update(seed=seed, wall_s=time.perf_counter() - t0)
        runs.append(res)
        print(f"seed {seed} wall {res['wall_s']:.1f} s correct "
              f"{res['correct']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(res) + "\n")
    if len(runs) >= 2:
        print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>7s}")
        for name, q2, q1, q3, spread in spread_table(runs):
            print(f"{name:28s} {q2:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:7.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
