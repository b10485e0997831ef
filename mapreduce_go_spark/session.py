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
- A new JVM on a `local` master starts from a JDK dynamic AppCDS
  archive: Spark's classes are mapped instead of loaded and linked
  (perfbench `setup_s` median 8.8-9.0 s -> 4.8-4.9 s on 4 cores). Guard:
  no JVM yet (`SparkContext._gateway is None`, no
  `PYSPARK_GATEWAY_PORT`), the default `PYSPARK_SUBMIT_ARGS`, no env var
  that adds to spark-class's classpath, and a conf dir holding only
  `*.template` files; the launch then points `SPARK_CONF_DIR` at an
  empty dir at a stable path in the cache, because the JDK will not
  dump with a non-empty directory on the classpath and checks the
  runtime classpath against the dump's. Otherwise the start is stock.
  The archive is
  `${XDG_CACHE_HOME:-~/.cache}/mapreduce_go_spark/cds/<key>.jsa`, keyed
  without a subprocess by the `java` spark-class runs (its `libjvm.so`
  size and mtime), the Spark version, the `$SPARK_HOME/jars` listing
  and the driver heap (over 32 GB the JVM takes the no-coops base
  archive); not by `JAVA_TOOL_OPTIONS`, which may carry per-run paths.
  With no archive the session dumps to `<key>.<unique>.tmp`
  (`-XX:ArchiveClassesAtExit`), records its JVM beside it and waits
  for that JVM at interpreter exit; while another session's dump
  still runs, the start is stock. A later session publishes the
  temp file (`os.replace`) only once its writer is gone and
  `java -Xshare:on -XX:SharedArchiveFile=<tmp> -version` on the
  recorded classpath exits 0, and deletes it otherwise: a garbage file
  is merely ignored by the JVM, but a torn dump (a JVM killed while
  writing) kills the JVM with SIGBUS in
  `FileMapInfo::relocate_pointers_in_core_regions`.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import json
import os
import re
import shlex
import shutil
import subprocess
import sys
import tempfile
import uuid
from typing import NamedTuple

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

def default_shuffle_partitions() -> int:
    """$SPARK_GRAFT_CPUS read at CALL time — an import-time snapshot
    could disagree with get_spark's own call-time env read when the
    variable is set between import and session build."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: Conf marker: set when a caller PINNED shuffle partitions via the
#: get_spark argument — tables._ensure_confs then leaves the value
#: alone instead of resetting it to $SPARK_GRAFT_CPUS on every load();
#: otherwise the explicit argument only held until the first table
#: load.
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

    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.speculation", "true")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # PySpark 4 wraps EVERY DataFrame API call in a call-site
        # capture (pyspark/errors/utils._with_origin): one
        # getActiveSession + one conf.get + a PySparkCurrentOrigin
        # set/clear per operation — 3-4 extra py4j round-trips each.
        # Profiled: ~15k round-trips to build the 13-variant
        # dashboard plan, and the wrapper was ~35% of warm
        # construction (interleaved min-of-4: 6.23 s -> 3.84 s with
        # it off). Pure driver-side fixed cost, scale-independent;
        # the price is error messages without Python call-site
        # context, which the test suite never relies on. Env-
        # overridable: a debugging session restores
        # call-site context with SPARK_GRAFT_CALLSITE_CAPTURE=true —
        # it is a STATIC conf, so set it before the process's first
        # get_spark.
        .config("spark.python.sql.dataFrameDebugging.enabled",
                "true" if os.environ.get(
                    "SPARK_GRAFT_CALLSITE_CAPTURE", ""
                ).lower() in ("1", "true", "yes") else "false")
    )
    new = SparkContext._active_spark_context is None
    archive = _archive_launch(master, heap)
    if archive is None:
        spark = builder.getOrCreate()
    else:
        builder.config("spark.driver.extraJavaOptions", archive.options)
        with _conf_dir(archive.conf_dir):
            spark = builder.getOrCreate()
        if archive.record:
            _record_dump(archive.record, spark.sparkContext)
    if new:
        _use_worker_launcher(spark.sparkContext)
    _apply_sql_confs(spark, n_shuffle)
    if shuffle_partitions is not None:
        spark.conf.set(_PIN_KEY, "true")
    spark.sparkContext.setLogLevel("WARN")
    return spark


_LOCAL_MASTER = re.compile(r"local(\[.*\])?")

#: env vars that add entries to spark-class's launch classpath
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_PREPEND_CLASSES", "SPARK_TESTING",
                  "SPARK_SQL_TESTING")
#: a cache path that needs no quoting in extraJavaOptions or a classpath
_PLAIN_PATH = re.compile(r"[\w./+@,=-]+")
#: how long interpreter exit waits for a dumping JVM before killing it
_DUMP_WAIT_S = 120
#: CDS logs to stdout (a dump names every class it skips, ~550 lines),
#: which would land in the bench and perfbench output tails
_QUIET = "-Xlog:cds*=off"


class _Archive(NamedTuple):
    options: str        # spark.driver.extraJavaOptions
    conf_dir: str       # SPARK_CONF_DIR for the launch
    record: str | None  # the dump's writer record; None when mapping


def _archive_launch(master: str, heap: str) -> _Archive | None:
    """How to start the session JVM from the archive (see the module
    docstring), or None for the stock start. Publishes finished dumps
    first; with no archive to map, writes the new dump's record."""
    if (SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or os.environ.get("PYSPARK_SUBMIT_ARGS",
                              "pyspark-shell") != "pyspark-shell"
            or any(os.environ.get(v) for v in _CLASSPATH_ENV)
            or not _LOCAL_MASTER.fullmatch(master)):
        return None
    spark_home = _find_spark_home()
    if not _templates_only(os.environ.get("SPARK_CONF_DIR")
                           or os.path.join(spark_home, "conf")):
        return None
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else shutil.which("java"))
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME")
                         or os.path.expanduser("~/.cache"),
                         "mapreduce_go_spark", "cds")
    conf = os.path.join(cache, "conf")
    if not java or not _PLAIN_PATH.fullmatch(cache):
        return None
    try:
        key = _archive_key(java, spark_home, heap)
        os.makedirs(conf, exist_ok=True)
        if os.listdir(conf):
            return None
        archive = os.path.join(cache, f"{key}.jsa")
        with open(os.path.join(cache, "lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            busy = _settle_dumps(cache, key, archive)
            if os.path.exists(archive):
                return _Archive(
                    f"-XX:SharedArchiveFile={archive} {_QUIET}", conf, None)
            if busy:  # a second dump would run slower for the same file
                return None
            stem = os.path.join(cache, f"{key}.{uuid.uuid4().hex[:12]}")
            _write_record(f"{stem}.json",
                          {"pid": os.getpid(), "java": java, "heap": heap})
        return _Archive(f"-XX:ArchiveClassesAtExit={stem}.tmp {_QUIET}",
                        conf, f"{stem}.json")
    except OSError:
        return None


def _templates_only(conf_dir: str) -> bool:
    return (not os.path.isdir(conf_dir)
            or all(n.endswith(".template") for n in os.listdir(conf_dir)))


def _archive_key(java: str, spark_home: str, heap: str) -> str:
    java = os.path.realpath(java)
    libjvm = os.stat(os.path.join(os.path.dirname(os.path.dirname(java)),
                                  "lib", "server", "libjvm.so"))
    jars = sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns)
                  for e in os.scandir(os.path.join(spark_home, "jars")))
    text = repr((java, libjvm.st_size, libjvm.st_mtime_ns,
                 pyspark.__version__, jars, heap))
    return hashlib.sha1(text.encode()).hexdigest()[:16]


def _settle_dumps(cache: str, key: str, archive: str) -> bool:
    """Publish as `archive` each temp file of `key` whose writer is gone
    and that passes the probe; delete the others. Returns whether a
    writer still runs. Runs under the cache lock."""
    busy = False
    for record in glob.glob(os.path.join(glob.escape(cache),
                                         f"{key}.*.json")):
        writer = _read_record(record)
        if _alive(writer.get("pid")):
            busy = True
            continue
        tmp = record[:-len(".json")] + ".tmp"
        if os.path.exists(tmp):
            if "classpath" in writer and _probe(tmp, writer):
                os.replace(tmp, archive)
            else:
                os.remove(tmp)
        os.remove(record)
    return busy


def _probe(tmp: str, writer: dict) -> bool:
    """Does a JVM started like the writer map `tmp`? -Xshare:on makes
    a file that cannot be mapped fail the start instead of being
    ignored; a torn file fails it with SIGBUS."""
    cmd = [writer["java"], f"-Xmx{writer['heap']}",
           "-cp", writer["classpath"], f"-XX:SharedArchiveFile={tmp}",
           "-Xshare:on", "-XX:ErrorFile=/dev/null",
           "-XX:-CreateCoredumpOnCrash", "-version"]
    try:
        return subprocess.run(cmd, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL,
                              timeout=60).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def _alive(pid) -> bool:
    if not isinstance(pid, int):
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _read_record(path: str) -> dict:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _write_record(path: str, record: dict) -> None:
    with open(path + ".part", "w") as fh:
        json.dump(record, fh)
    os.replace(path + ".part", path)


@contextlib.contextmanager
def _conf_dir(path: str):
    """SPARK_CONF_DIR is `path` while the JVM launches."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _record_dump(record: str, sc: SparkContext) -> None:
    """Name the launched JVM (spark-class execs it) as the dump's writer,
    with the classpath the probe needs, and wait for it at exit."""
    proc = sc._gateway.proc
    _write_record(record, {
        **_read_record(record), "pid": proc.pid,
        "classpath": sc._jvm.System.getProperty("java.class.path")})
    atexit.register(_await_dump, proc)


def _await_dump(proc: subprocess.Popen) -> None:
    """End the session JVM (it exits when its stdin closes) and wait
    while it writes the archive. The context is stopped first: a JVM
    that exits under a live context breaks the accumulator server's
    connection, and its thread prints an EOFError traceback."""
    if proc.poll() is not None:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


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
    hand-maintained lists had already drifted apart)."""
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
    # overall (interleaved min-of-5 over six Arrow-heavy queries:
    # 4.13 s at 10000 -> 3.82 s at 1000; 500 wins another 3% on the
    # binary-heavy kernels but starts to tax narrow-numeric ones,
    # zscore 0.25 -> 0.29). Batch size is value-invariant for every
    # kernel in this repo (per-row vectorized ops; GROUPED_AGG gets
    # whole groups regardless) — re-verified by the full oracle run.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
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
    # addPyFile and fail every worker-side import
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
