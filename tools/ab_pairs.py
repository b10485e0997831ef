"""Interleaved parent/change pairs of the benchmark, and the verdict on
each end-to-end metric.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload mr_apps --seeds 21-30 [--out pairs.jsonl]
    python3 tools/ab_pairs.py --replay pairs.jsonl

For every seed it runs `perfbench/run.py` once in each checkout, one
fresh process each, alternating which side goes first (the first seed
runs the parent first). The run length is BENCHMARK.json's
`run_seconds`, the same on both sides. Per metric it prints each side's
median and quartiles, the pairs the change won (ties count for
neither), the parent's interquartile range, and whether a gain holds by
the rule for small sandboxes: the change wins at least nine tenths of
the pairs and the medians differ by more than the parent's IQR. It
also prints how much worse the change's median is than the parent's,
beside the metric's bound, and the median change - parent difference
split by which side ran first: a difference that follows the order
rather than the side is the host, not the change. `--out` appends every
run's summary object, with its side, seed and position in the pair, as
JSON lines; `--replay` prints the same report from such a file without
running anything.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import parse_summary, quartiles  # noqa: E402
from perfbench.sweep import seeds  # noqa: E402

#: share of all pairs the change must win before a gain is claimed
WIN_SHARE = 0.9


def verdict(parent: list[float], change: list[float],
            better: str = "lower") -> dict:
    """The gain rule over paired runs: parent[i] and change[i] share a
    seed. Returns both sides' quartiles, the change's wins, the
    parent's IQR, the relative shift of the change's median and whether
    a gain holds."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same, non-zero number of runs per side")
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    p1, p2, p3 = quartiles(parent)
    c1, c2, c3 = quartiles(change)
    iqr = p3 - p1
    return {
        "parent": (p1, p2, p3), "change": (c1, c2, c3),
        "pairs": len(parent), "wins": wins, "parent_iqr": iqr,
        # > 0 means the change's median is worse
        "worse_by": sign * (c2 - p2) / p2 if p2 else 0.0,
        "gain": (wins >= WIN_SHARE * len(parent)
                 and sign * (p2 - c2) > iqr),
    }


def position_split(parent: list[float], change: list[float],
                   change_first: list[bool]) -> dict[str, tuple]:
    """Median change - parent over the pairs in which the change ran
    first, and over those in which it ran second: (pairs, median or
    None) per position."""
    out = {}
    for label, first in (("change first", True), ("change second", False)):
        d = [c - p for p, c, f in zip(parent, change, change_first)
             if f == first]
        out[label] = (len(d), statistics.median(d) if d else None)
    return out


def load_pairs(path: str) -> list[tuple[dict, dict]]:
    """(parent, change) run objects per seed, in seed order, from an
    `--out` file; a seed without both sides is left out."""
    by_seed: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                by_seed.setdefault(r["seed"], {})[r["side"]] = r
    return [(d["parent"], d["change"]) for _, d in sorted(by_seed.items())
            if len(d) == 2]


def report(spec: dict, pairs: list[tuple[dict, dict]]) -> None:
    print(f"{'metric':12s} {'side':7s} {'q1':>9s} {'median':>9s} "
          f"{'q3':>9s}")
    change_first = [c["first"] for _, c in pairs]
    for m in spec["end_to_end"]:
        name = m["name"]
        parent = [p["metrics"][name]["value"] for p, _ in pairs]
        change = [c["metrics"][name]["value"] for _, c in pairs]
        v = verdict(parent, change, m["better"])
        for side in ("parent", "change"):
            q1, q2, q3 = v[side]
            print(f"{name:12s} {side:7s} {q1:9.4f} {q2:9.4f} {q3:9.4f}")
        print(f"{name:12s} change won {v['wins']}/{v['pairs']} pairs; "
              f"parent IQR {v['parent_iqr']:.4f}; median worse by "
              f"{v['worse_by']:+.1%} (bound {m['bound']:.0%}); gain "
              f"{'holds' if v['gain'] else 'does not hold'}")
        print(f"{name:12s} median change - parent: " + "; ".join(
            f"{label} {d:+.4f} ({n} pairs)" if n else f"{label} -"
            for label, (n, d) in position_split(parent, change,
                                                change_first).items()))
    failed = {side: sum(pair[i]["failed"] for pair in pairs)
              for i, side in enumerate(("parent", "change"))}
    print(f"failed operations: parent {failed['parent']}, "
          f"change {failed['change']}")


def run_once(checkout: str, workload: str, seed: int,
             run_seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(run_seconds),
         "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=900)
    if proc.returncode:
        raise RuntimeError(f"{checkout} seed {seed}: exit {proc.returncode}"
                           f"\n{proc.stderr[-3000:]}")
    return parse_summary(proc.stdout)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--parent")
    p.add_argument("--change")
    p.add_argument("--workload")
    p.add_argument("--seeds")
    p.add_argument("--out")
    p.add_argument("--replay", metavar="FILE")
    args = p.parse_args(argv)
    spec = benchmark_spec()
    if args.replay:
        report(spec, load_pairs(args.replay))
        return 0
    if not (args.parent and args.change and args.workload and args.seeds):
        p.error("--parent, --change, --workload and --seeds are required"
                " without --replay")
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    pairs = []
    for i, seed in enumerate(seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for pos, side in enumerate(order):
            res = run_once(sides[side], args.workload, seed,
                           spec["run_seconds"])
            pair[side] = {**res, "side": side, "seed": seed,
                          "first": pos == 0}
            print(f"seed {seed} {side} ({'first' if pos == 0 else 'second'})"
                  f" correct {res['correct']} failed {res['failed']}/"
                  f"{res['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}"
                      for k, v in res["metrics"].items()), flush=True)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(pair[side]) + "\n")
        pairs.append((pair["parent"], pair["change"]))
    report(spec, pairs)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
