"""SparkSession factory.

The reference hand-rolls its execution substrate (master/worker RPC,
hash-partitioned shuffle files, straggler re-execution — see SURVEY §2.1
F3-F5, F10-F14, citing /root/reference/mr/master.go and mr/worker.go).
Spark subsumes all of it; the only engine-level work left to us is
configuration:

- AQE on (coalesce + skew-join): replaces the reference's fixed R=10
  reduce fan-out (/root/reference/main/mrmaster.go:23) with runtime
  re-planning — the 100 TB posture of SURVEY §4.3.
- speculation: the Spark analog of the reference's 10 s straggler
  re-dispatch (/root/reference/mr/master.go:111-127).
- Arrow: all Python<->JVM data transfer is columnar (pandas UDFs).
- session timezone pinned to UTC so timestamp semantics match the
  naive-UTC DuckDB oracle.
- Python workers of a session built here on a `local` master run
  through a small `sh` launcher that drops the JVM-added
  `pyspark.zip`, py4j zip and spark-core jar from their PYTHONPATH and
  execs the driver's own interpreter, so they import its installed
  pyspark. Every task's `importlib.invalidate_caches()` re-reads each
  zip archive on `sys.path`: 0.14-0.27 s per stock task on 4 cores.
  Guard: new session, `local`/`local[...]` master, and installed
  `pyspark.__version__ == spark.version`; otherwise workers are stock.
"""

from __future__ import annotations

import hashlib
import os
import re
import shlex
import sys
import tempfile

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

def default_shuffle_partitions() -> int:
    """$SPARK_GRAFT_CPUS read at CALL time — an import-time snapshot
    could disagree with get_spark's own call-time env read when the
    variable is set between import and session build (r13 review)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: Conf marker: set when a caller PINNED shuffle partitions via the
#: get_spark argument — tables._ensure_confs then leaves the value
#: alone instead of resetting it to $SPARK_GRAFT_CPUS on every load()
#: (r13 review: the explicit argument only held until the first
#: table load otherwise).
_PIN_KEY = "spark.mapreduce_go_spark.shufflePartitions.pinned"


def get_spark(app_name: str = "mapreduce_go_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors an already-active session (the driver owns the session in
    verify runs) but applies runtime-settable SQL confs to it so query
    semantics (timezone, AQE) are consistent either way.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_shuffle = shuffle_partitions or default_shuffle_partitions()

    active = SparkSession.getActiveSession()
    if active is not None:
        _apply_sql_confs(active, n_shuffle)
        if shuffle_partitions is not None:
            active.conf.set(_PIN_KEY, "true")
        return active

    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.speculation", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 wraps EVERY DataFrame API call in a call-site
        # capture (pyspark/errors/utils._with_origin): one
        # getActiveSession + one conf.get + a PySparkCurrentOrigin
        # set/clear per operation — 3-4 extra py4j round-trips each.
        # Profiled r16: ~15k round-trips to build the 13-variant
        # dashboard plan, and the wrapper was ~35% of warm
        # construction (interleaved min-of-4: 6.23 s -> 3.84 s with
        # it off). Pure driver-side fixed cost, scale-independent;
        # the price is error messages without Python call-site
        # context, which the test suite never relies on. Env-
        # overridable (ADVICE r16): a debugging session restores
        # call-site context with SPARK_GRAFT_CALLSITE_CAPTURE=true —
        # it is a STATIC conf, so set it before the process's first
        # get_spark.
        .config("spark.python.sql.dataFrameDebugging.enabled",
                "true" if os.environ.get(
                    "SPARK_GRAFT_CALLSITE_CAPTURE", ""
                ).lower() in ("1", "true", "yes") else "false")
    )
    new = SparkContext._active_spark_context is None
    spark = builder.getOrCreate()
    if new:
        _use_worker_launcher(spark.sparkContext)
    _apply_sql_confs(spark, n_shuffle)
    if shuffle_partitions is not None:
        spark.conf.set(_PIN_KEY, "true")
    spark.sparkContext.setLogLevel("WARN")
    return spark


_LOCAL_MASTER = re.compile(r"local(\[.*\])?")


def _use_worker_launcher(sc: SparkContext) -> None:
    """Point the context's Python workers at the launcher (see the
    module docstring) when the master is local and the installed
    pyspark is the JVM's version; otherwise leave `pythonExec` alone.
    `pythonExec` is read at UDF-wrap time, so every later UDF, RDD
    function and Python data source picks it up."""
    if (not _LOCAL_MASTER.fullmatch(sc.master)
            or pyspark.__version__ != sc.version or not sys.executable):
        return
    # exactly the entries the JVM puts in front of every worker's
    # PYTHONPATH: $SPARK_HOME/python/lib/{pyspark,py4j-*-src}.zip and
    # the jar holding PythonUtils (spark-core)
    jvm_path = sc._jvm.org.apache.spark.api.python.PythonUtils \
        .sparkPythonPath()
    sc.pythonExec = _publish_launcher(
        sys.executable, [p for p in jvm_path.split(os.pathsep) if p])


def _publish_launcher(python: str, drop: list[str]) -> str:
    """Write the launcher script; its name is a hash of its text, so
    sessions with other interpreters never swap each other's file."""
    cases = "|".join(shlex.quote(p) for p in drop) or "''"
    text = (
        "#!/bin/sh\n"
        "# mapreduce_go_spark Python-worker launcher (session.py)\n"
        "set -f\n"
        "keep=\n"
        "IFS=:\n"
        "for p in $PYTHONPATH; do\n"
        f"  case $p in {cases}) ;; *) keep=${{keep:+$keep:}}$p ;; esac\n"
        "done\n"
        "PYTHONPATH=$keep\n"
        "export PYTHONPATH\n"
        f"exec {shlex.quote(python)} \"$@\"\n"
    )

    def write(tmp: str) -> None:
        with open(tmp, "w") as fh:
            fh.write(text)
        os.chmod(tmp, 0o755)

    digest = hashlib.sha1(text.encode()).hexdigest()[:12]
    return _publish(f"mapreduce_go_spark_python-{digest}.sh", write)


def _publish(name: str, write) -> str:
    """Build a file with `write(tmp)` in a unique temp file, then
    atomically publish it as `name` in the temp dir: two concurrent
    sessions (pytest + bench, or the core-sensitivity pair) racing a
    direct write to the shared path could hand a reader a torn file;
    os.replace gives every reader either the old or the new complete
    one."""
    fd, tmp = tempfile.mkstemp(suffix=os.path.splitext(name)[1],
                               dir=tempfile.gettempdir())
    os.close(fd)
    write(tmp)
    path = os.path.join(tempfile.gettempdir(), name)
    os.replace(tmp, path)
    return path


def _apply_sql_confs(spark: SparkSession, n_shuffle: int) -> None:
    """The ONE conf list (tables._ensure_confs delegates here — two
    hand-maintained lists had already drifted, r13 review)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    # events.parquet stores TIMESTAMP(NANOS), which the vectorized
    # reader otherwise rejects (PARQUET_TYPE_ILLEGAL)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # WarcReader implements pushFilters (archive pruning); with this
    # flag false Spark REFUSES the read outright rather than skipping
    # pushdown, so every connector entry point must arm it (the warc
    # query functions also set it — the driver's vanilla session
    # never passes through here)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # Arrow batch size for every pandas/Arrow kernel (guide §4.2):
    # the 10,000-row default means 1-2 batches per task at fixture
    # scale — no producer/consumer overlap across the JVM<->Python
    # boundary — and for large binary cells (media blobs) it also
    # sets the per-batch memory high-water mark. 1000 measured best
    # overall (r16 interleaved min-of-5 over six Arrow-heavy queries:
    # 4.13 s at 10000 -> 3.82 s at 1000; 500 wins another 3% on the
    # binary-heavy kernels but starts to tax narrow-numeric ones,
    # zscore 0.25 -> 0.29). Batch size is value-invariant for every
    # kernel in this repo (per-row vectorized ops; GROUPED_AGG gets
    # whole groups regardless) — re-verified by the full oracle run.
    # Env-overridable for cluster tuning without a code change.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1000"))
    # NOTE: spark.python.sql.dataFrameDebugging.enabled (builder
    # config above) is a STATIC conf — it cannot be applied to an
    # already-active session here (CANNOT_MODIFY_STATIC_CONFIG), so
    # the driver's own pre-built session keeps call-site capture on.
    # That path is correctness-only, never timed.


_SHIPPED_CONTEXTS: set[str] = set()
_PYFILES_ZIP = "mapreduce_go_spark_pyfiles.zip"


def ensure_package_on_workers(spark: SparkSession) -> str:
    """Ship this package to executor Python workers via addPyFile;
    returns the published zip path (callers that spawn NON-include
    Python processes — see ensure_tws_python_env — reuse it).

    The driver may own a session whose workers don't share our
    sys.path (e.g. launched from another cwd); any query using a
    Python UDF / mapInPandas would then fail to unpickle module
    references on the worker. Zipping the package through Spark's
    file-distribution machinery is the cluster-correct fix (works the
    same on a real multi-node deployment, where sys.path tricks
    never could)."""
    import zipfile

    sc = spark.sparkContext
    # keyed by applicationId, not id(sc): a stopped context's address
    # can be reused by a NEW context, which would silently skip the
    # addPyFile and fail every worker-side import (r13 review)
    if sc.applicationId in _SHIPPED_CONTEXTS:
        return os.path.join(tempfile.gettempdir(), _PYFILES_ZIP)
    pkg_dir = os.path.dirname(os.path.abspath(__file__))

    def write_zip(tmp: str) -> None:
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in sorted(files):
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "mapreduce_go_spark",
                        os.path.relpath(full, pkg_dir),
                    )
                    z.write(full, rel)
                    # vendored top-level packages (google.protobuf for
                    # transformWithState) must ALSO sit at archive
                    # root: workers put the zip itself on sys.path, so
                    # only root-level names are importable as top-level
                    # modules
                    vprefix = os.path.join("mapreduce_go_spark", "vendor")
                    if rel.startswith(vprefix + os.sep):
                        vrel = os.path.relpath(rel, vprefix)
                        if os.sep in vrel:  # skip vendor/__init__.py
                            z.write(full, vrel)

    zpath = _publish(_PYFILES_ZIP, write_zip)
    sc.addPyFile(zpath)
    _SHIPPED_CONTEXTS.add(sc.applicationId)
    return zpath


def ensure_tws_python_env(spark: SparkSession) -> None:
    """Make transformWithState's DEDICATED Python processes able to
    import the vendored google.protobuf (and this package).

    Those processes — the pre-init driver worker and the per-task
    state workers — are NOT regular PythonRDD workers: they never
    read the python-includes list from the worker protocol
    (pyspark/sql/streaming/transform_with_state_driver_worker.py has
    no includes handling), so addPyFile alone can't reach them. Their
    PYTHONPATH is SPARK_HOME's pyspark plus the PythonFunction's
    envVars — which snapshot sc.environment AT UDF-WRAP TIME. So:
    publish the pyfiles zip, then put it on sc.environment's
    PYTHONPATH BEFORE the transformWithState plan is built. A real
    google.protobuf installation is unaffected (the zip only appends;
    regular packages beat the zip's only when earlier on the path)."""
    zpath = ensure_package_on_workers(spark)
    env = spark.sparkContext.environment
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if zpath not in parts:
        env["PYTHONPATH"] = os.pathsep.join([*parts, zpath])
