"""Benchmark: one workload, one seed, one process, on local[nproc / 2].

    python3 perfbench/run.py --workload mr_apps --seed 1 --seconds 12 --trace 0

Run from the repository root. A run:

1. builds the tuned session and loads the registry (`setup_s`);
2. writes its seeded inputs into its own run directory;
3. runs one cold pass (first table loads, JIT, codegen, layouts,
   codebooks);
4. checks every output against its oracle, untimed, which also warms
   the JIT up, then runs the workload's untimed warm-up passes;
5. runs timed passes until `--seconds` have passed (at least
   `MIN_TIMED_PASSES`), each beside a fixed pure-Python host canary;
6. reads the driver JVM's peak RSS and stops the JVM.

Everything a run writes (Spark workspace, local dirs, temp files,
warehouse, mr-out, inputs) lives under `.perfbench/run-<pid>` and is
removed when the run ends; only the traced run's span file is kept, in
`.perfbench/traces/`. The last stdout line is one JSON object:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MIN_TIMED_PASSES = 3
CANARY_ITERS = 800_000
#: str hashes, and with them the order of the sets and dicts the engine
#: builds plans from, change from one interpreter to the next unless
#: PYTHONHASHSEED is fixed. The run re-executes itself with this value;
#: the JVM's Python workers inherit it.
HASH_SEED = "0"

#: BENCHMARK.json metric names -> units, in print order.
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s"}
#: Printed by name, unit and sample count, but not bounded: the peak RSS
#: of these short runs spreads more than a bound may allow, and the
#: fail ratio is 0, which no share of a median can bound.
ALSO_PRINTED = {"peak_rss_mb": "MB", "fail_ratio": "fraction"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.all_queries_s": "s",
    "tables.load_s": "s",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "runner.run_job_s": "s",
    "workspace.scratch_mb": "MB",
    "workspace.cold_only_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.wasted_attempts": "count",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.run_ms": "ms",
    "spark.cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.offcpu_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.retained_storage_mb": "MB",
    "spark.peak_rss_mb": "MB",
    "host.canary_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def process_age() -> float:
    """Seconds since this process was created (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def measure_setup(tracer):
    """Build the session and load the registry, touching no input;
    returns (spark, queries, timings)."""
    from mapreduce_go_spark import registry, session
    from perfbench.spans import Span

    t0 = time.perf_counter()
    spark = session.get_spark()
    t1 = time.perf_counter()
    queries = registry.all_queries()
    t2 = time.perf_counter()
    if tracer.enabled:
        tracer.spans.append(Span("session.get_spark", t0, t1, None, "setup"))
        tracer.spans.append(Span("registry.all_queries", t1, t2, None,
                                 "setup"))
    return spark, queries, {"setup_s": process_age(),
                            "session.get_spark_s": t1 - t0,
                            "registry.all_queries_s": t2 - t1}


def stop_jvm(spark, timeout: float = 60.0) -> None:
    """Stop the SparkContext, then the gateway JVM it ran in (local
    mode hosts every executor and Python worker under it), and wait
    until that process has ended."""
    import subprocess

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def canary() -> float:
    """A fixed pure-Python loop: its time tracks the host's speed, so a
    slow-host run can be told from a slow change."""
    t0 = time.perf_counter()
    x = 0
    for i in range(CANARY_ITERS):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summary_line(metrics: dict[str, float], units: dict[str, str],
                 attempted: int, failed: int) -> str:
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    })


def parse_summary(stdout: str) -> dict:
    """The result object from a run's stdout (its last line)."""
    out = json.loads(stdout.strip().splitlines()[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected summary keys {sorted(out)}")
    return out


def task_slots() -> int:
    """Half the cores this process may use, at least one. The other half
    is left to what runs beside the task threads: the Python workers
    they feed, the driver process building plans, and the JVM's JIT and
    GC threads. With one task thread per core those queue behind the
    tasks, and a pass's time then tracks the host's scheduler more than
    the program."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def isolated_env(run_dir: str) -> dict[str, str]:
    """Per-run directories for everything Spark and the engine write,
    and the core count pinned to `task_slots()`."""
    dirs = {k: os.path.join(run_dir, k) for k in
            ("workspace", "local", "tmp", "cwd", "input")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(task_slots()),
        "SPARK_GRAFT_WORKSPACE": dirs["workspace"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']}",
    }


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total / 2**20


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, which hosts every executor in local mode."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


class PassRunner:
    """Runs one workload's passes and counts every query execution."""

    def __init__(self, spark, queries, w, in_dir, mr_out, tracer, seed):
        from perfbench.spans import SparkCounters

        self.spark, self.queries, self.w = spark, queries, w
        self.in_dir, self.mr_out, self.tracer = in_dir, mr_out, tracer
        self.order = random.Random(seed)
        self.counters = SparkCounters(spark) if tracer.enabled else None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.layer_passes: list[dict[str, float]] = []
        self.item_s: dict[str, list[float]] = {}

    def run_pass(self, label: str, traced: bool, load_tables=False) -> float:
        """One pass over the workload's items; returns its wall time.
        With `traced`, spans and job groups are recorded and the
        status-store counters are read after the timer stops."""
        items = list(self.w.items)
        if self.w.permute:
            self.order.shuffle(items)
        tracer = self.tracer
        was_enabled, tracer.enabled = tracer.enabled, traced
        tracer.trace_id = label
        groups: list[str] = []
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        t0 = time.perf_counter()
        with tracer.span("pass"):
            if load_tables:
                self._load_tables()
            for i, item in enumerate(items):
                self.attempted += 1
                t_item = time.perf_counter()
                try:
                    self._execute(item, f"{label}.{i}", traced, groups,
                                  phases)
                    self.item_s.setdefault(item.name, []).append(
                        time.perf_counter() - t_item)
                except Exception as ex:  # counted in fail_ratio
                    self.failed += 1
                    self.errors.append(f"{label} {item.name}: "
                                       f"{type(ex).__name__}: {ex}"[:300])
        wall = time.perf_counter() - t0
        tracer.enabled = was_enabled
        if traced:
            layer = {f"spark.{k}": v for k, v in
                     self.counters.collect(groups).items()}
            layer.update({f"spark.{k}_ms": v for k, v in phases.items()})
            layer["operators.construct_jobs"] = sum(
                len(self.counters.jobs(g)) for g in groups
                if g.endswith(".construct"))
            layer["operators.construct_s"] = tracer.total(
                "operators.construct", label)
            layer["runner.run_job_s"] = tracer.total("runner.run_job", label)
            layer["tables.load_s"] = tracer.total("tables.load", label)
            layer["pass_s"] = wall
        self.spark.catalog.clearCache()
        if traced:
            layer["spark.retained_storage_mb"] = \
                self.counters.retained_storage_mb()
            self.layer_passes.append(layer)
        return wall

    def _load_tables(self) -> None:
        from mapreduce_go_spark import tables

        for name in self.w.tables:
            with self.tracer.span("tables.load", table=name):
                tables.load(self.spark, self.in_dir, name)

    def _execute(self, item, group, traced, groups, phases) -> None:
        from mapreduce_go_spark import runner
        from perfbench.spans import catalyst_phases_ms

        sc, tracer = self.spark.sparkContext, self.tracer
        if traced:
            layer = "construct" if item.app is None else "run_job"
            groups.append(f"{group}.{layer}")
            sc.setJobGroup(groups[-1], item.name)
        with tracer.span("item", item=item.name):
            if item.app is None:
                with tracer.span("operators.construct", query=item.name):
                    df = self.queries[item.name](self.spark, self.in_dir)
                if traced:
                    for k, v in catalyst_phases_ms(df).items():
                        phases[k] += v
            else:
                mapf, reducef = runner.APPS[item.app]
                with tracer.span("runner.run_job", job=item.name):
                    corpus = runner.corpus_from_documents(self.spark,
                                                          self.in_dir)
                    df = runner.run_job(
                        self.spark, corpus, mapf, reducef,
                        out_dir=self.mr_out if item.writes else None)
            if traced:
                groups.append(f"{group}.action")
                sc.setJobGroup(groups[-1], item.name)
            with tracer.span("spark.action", item=item.name):
                if item.writes:
                    df.unpersist()
                else:
                    df.write.format("noop").mode("overwrite").save()
        if traced:
            sc.setJobGroup("untraced", "")


def run(args, run_dir: str) -> tuple[dict, dict, int, int, list[str]]:
    """Returns (metrics, report, attempted, failed, log lines)."""
    from perfbench import workloads
    from perfbench.spans import Tracer

    w = workloads.WORKLOADS[args.workload]
    tracer = Tracer(bool(args.trace))
    spark, queries, setup = measure_setup(tracer)
    try:
        return _measure(args, run_dir, w, tracer, spark, queries, setup)
    finally:
        stop_jvm(spark)


def _measure(args, run_dir, w, tracer, spark, queries, setup):
    from perfbench import inputs, workloads
    from perfbench.spans import self_time_by_name

    log: list[str] = []
    in_dir = os.path.join(run_dir, "input")
    mr_out = os.path.join(run_dir, "mr-out")
    t0 = time.perf_counter()
    workloads.build_inputs(REPO, w, in_dir, args.seed)
    for name, d in inputs.describe(in_dir).items():
        log.append(f"input {name} rows={d['rows']} bytes={d['bytes']}")
    log.append(f"inputs_s {time.perf_counter() - t0:.3f}")

    r = PassRunner(spark, queries, w, in_dir, mr_out, tracer, args.seed)
    cold = r.run_pass("cold", traced=tracer.enabled, load_tables=True)
    scratch_mb = dir_mb(os.environ["SPARK_GRAFT_WORKSPACE"])
    # the output checks run between the cold and the timed passes, so
    # they double as a warm-up
    names = [i.name for i in w.items if i.app is None]
    t0 = time.perf_counter()
    if w.name == "mr_apps":
        checks = workloads.check_mr_apps(spark, queries, in_dir, mr_out)
    else:
        checks = workloads.check_queries(spark, queries, names, in_dir)
    r.attempted += len(checks)
    for name, msg in checks.items():
        if msg:
            r.failed += 1
            r.errors.append(f"check {name}: {msg}")
    log.append(f"checks {sum(not m for m in checks.values())}"
               f"/{len(checks)} passed in {time.perf_counter() - t0:.3f} s")
    for k in range(w.warmup_passes):
        r.run_pass(f"warmup{k}", traced=False)
    passes, traced_walls, canaries = [], [], []
    start = time.perf_counter()
    k = 0
    while (k < MIN_TIMED_PASSES
           or time.perf_counter() - start < args.seconds):
        canaries.append(canary())
        # the traced run alternates untraced and traced passes, so the
        # tracing overhead is measured inside one run
        traced = tracer.enabled and k % 2 == 1
        wall = r.run_pass(f"pass{k}", traced=traced)
        (traced_walls if traced else passes).append(wall)
        log.append(f"pass {k} {'traced' if traced else 'untraced'} "
                   f"{wall:.4f} s host.canary_s {canaries[-1]:.4f}")
        k += 1

    for name, ts in r.item_s.items():
        warm = ts[1 + w.warmup_passes:] or ts
        log.append(f"item {name} cold {ts[0]:.3f} s warm-median "
                   f"{statistics.median(warm):.3f} s")
    rss = peak_rss_mb(spark)
    metrics = {"setup_s": setup["setup_s"], "cold_pass_s": cold,
               "pass_s": statistics.median(passes)}
    report = {"setup_s": [setup["setup_s"]], "cold_pass_s": [cold],
              "pass_s": passes, "peak_rss_mb": [rss]}
    if tracer.enabled:
        metrics = _layer_metrics(r, setup, scratch_mb, canaries,
                                 passes, traced_walls)
        metrics["spark.peak_rss_mb"] = rss
        spans = tracer.spans
        trace_doc = {
            "workload": w.name, "seed": args.seed,
            "spans": tracer.to_json(),
            "self_time_s": self_time_by_name(spans),
            "passes": {s: p for s, p in zip(
                ["cold"] + [f"traced{i}" for i in range(len(traced_walls))],
                r.layer_passes)},
            "metrics": metrics,
        }
        path = os.path.join(REPO, ".perfbench", "traces",
                            f"{w.name}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(trace_doc, fh, indent=1)
        log.append(f"trace written to {os.path.relpath(path, REPO)}")
    log.extend(f"error {e}" for e in r.errors[:20])
    return metrics, report, r.attempted, r.failed, log


def _layer_metrics(r: PassRunner, setup, scratch_mb, canaries, passes,
                   traced_walls) -> dict[str, float]:
    cold, steady = r.layer_passes[0], r.layer_passes[1:]
    med = {k: statistics.median(p[k] for p in steady) for k in steady[0]}
    out = {k: med[k] for k in PER_LAYER if k in med}
    out.update({
        "session.get_spark_s": setup["session.get_spark_s"],
        "registry.all_queries_s": setup["registry.all_queries_s"],
        "tables.load_s": cold["tables.load_s"],
        "workspace.scratch_mb": scratch_mb,
        "workspace.cold_only_jobs": cold["spark.jobs"] - med["spark.jobs"],
        "spark.retained_storage_mb": steady[-1]["spark.retained_storage_mb"],
        "host.canary_s": statistics.median(canaries),
        "trace.pass_s": statistics.median(traced_walls),
        "trace.overhead_s": (statistics.median(traced_walls)
                             - statistics.median(passes)),
    })
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "mapreduce_go_spark")):
        print("perfbench: no mapreduce_go_spark package beside perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        os.environ["PYTHONHASHSEED"] = HASH_SEED
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__),
                                  *(sys.argv[1:] if argv is None else argv)])
    run_dir = os.path.join(REPO, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        os.environ.update(isolated_env(run_dir))
        os.chdir(os.path.join(run_dir, "cwd"))
        metrics, report, attempted, failed, log = run(args, run_dir)
    finally:
        os.chdir(REPO)
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in log:
        print(line)
    for name, values in report.items():
        q1, q2, q3 = quartiles(values)
        print(f"metric {name} {metrics.get(name, q2):.4f} "
              f"{ALSO_PRINTED.get(name) or END_TO_END[name]} "
              f"n={len(values)} q1={q1:.4f} q3={q3:.4f}")
    print(f"metric fail_ratio {failed / attempted:.4f} "
          f"{ALSO_PRINTED['fail_ratio']} n={attempted} failed={failed}")
    units = PER_LAYER if args.trace else END_TO_END
    print(summary_line(metrics, units, attempted, failed), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
