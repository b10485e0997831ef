"""The Python-worker launcher of session.get_spark: its guard (pure, on
a stand-in context, so no session is built) and what a worker of the
tests' session imports. The JVM's class-data archive: its guard (pure)
and sessions in child processes with their own archive cache."""

import json
import os
import subprocess
import sys
from types import SimpleNamespace as NS

import pyspark
import pytest
from pyspark import SparkContext

from mapreduce_go_spark import session


class _Context:
    """The attributes of a SparkContext the launcher guard reads or
    writes; touching the JVM fails the test."""

    def __init__(self, master, version, jvm_path=None):
        self.master, self.version = master, version
        self.pythonExec = "python3"
        self.environment = {"PYTHONPATH": "/ship/pyfiles.zip"}
        self._jvm_path = jvm_path

    @property
    def _jvm(self):
        if self._jvm_path is None:
            raise AssertionError("the guard reached the JVM")
        utils = NS(sparkPythonPath=lambda: self._jvm_path)
        return NS(org=NS(apache=NS(spark=NS(api=NS(python=NS(
            PythonUtils=utils))))))


@pytest.mark.parametrize("master", [
    "yarn", "spark://host:7077", "local-cluster[2,1,1024]",
    "k8s://https://host:6443", "localhost",
])
def test_non_local_master_keeps_stock_workers(master):
    sc = _Context(master, pyspark.__version__)
    session._use_worker_launcher(sc)
    assert sc.pythonExec == "python3"
    assert sc.environment == {"PYTHONPATH": "/ship/pyfiles.zip"}


@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]"])
def test_version_mismatch_keeps_stock_workers(master):
    sc = _Context(master, pyspark.__version__ + ".other")
    session._use_worker_launcher(sc)
    assert sc.pythonExec == "python3"
    assert sc.environment == {"PYTHONPATH": "/ship/pyfiles.zip"}


def test_active_session_keeps_its_python_exec(spark):
    """The active-session branch (a session the driver built) never
    swaps the workers' interpreter."""
    sc = spark.sparkContext
    saved = sc.pythonExec
    sc.pythonExec = "python3"
    try:
        assert session.get_spark() is spark
        assert sc.pythonExec == "python3"
    finally:
        sc.pythonExec = saved


def test_launcher_drops_only_the_jvm_entries(tmp_path):
    lib = "/spark home/python/lib"
    jvm = [f"{lib}/pyspark.zip", f"{lib}/py4j-0.10.9.9-src.zip",
           "/spark home/jars/spark-core_2.13.jar"]
    sc = _Context("local[2]", pyspark.__version__, os.pathsep.join(jvm))
    session._use_worker_launcher(sc)
    assert sc.pythonExec != "python3" and os.access(sc.pythonExec, os.X_OK)
    assert sc.environment == {"PYTHONPATH": "/ship/pyfiles.zip"}
    (tmp_path / "f").touch()  # the "*" entry would glob to it
    kept = ["/ship/pyfiles.zip", "/with space/a", str(tmp_path / "*"),
            "/other/lib.jar.d"]
    out = subprocess.run(
        [sc.pythonExec, "-c",
         "import os, sys; print(os.environ['PYTHONPATH']);"
         " print(sys.executable)"],
        env={**os.environ,
             "PYTHONPATH": os.pathsep.join([*jvm, *kept])},
        capture_output=True, text=True, check=True).stdout.splitlines()
    assert out[0] == os.pathsep.join(kept)
    assert os.path.realpath(out[1]) == os.path.realpath(sys.executable)


def test_workers_import_the_installed_pyspark(spark):
    """A worker of the tests' session (local master, matching pyspark)
    has no JVM-added zip or jar on sys.path, imports the installed
    pyspark, still reaches this package through the addPyFile zip, and
    holds no other zipimporter after a search of every path entry."""
    if pyspark.__version__ != spark.version:
        pytest.skip("installed pyspark differs from the JVM: stock workers")
    zname = os.path.basename(session.ensure_package_on_workers(spark))

    def probe(_):
        import importlib.machinery
        import importlib.util
        import os
        import sys
        import zipimport

        import pyspark as worker_pyspark

        zips = [p for p in sys.path if os.path.basename(p) == zname]
        spec = importlib.machinery.PathFinder.find_spec(
            "mapreduce_go_spark", zips)
        # walks every sys.path entry, filling sys.path_importer_cache
        assert importlib.util.find_spec("no_such_module_anywhere") is None
        importers = [p for p, imp in sys.path_importer_cache.items()
                     if isinstance(imp, zipimport.zipimporter)
                     and not p.startswith(tuple(zips))]
        yield (list(sys.path), os.environ.get("SPARK_HOME", ""),
               worker_pyspark.__file__, zips,
               spec.origin if spec else None, importers)

    path, spark_home, pyspark_file, zips, origin, importers = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe)
        .collect()[0])
    assert not [p for p in path if p.endswith(".jar")]
    if spark_home:
        lib = os.path.join(spark_home, "python", "lib")
        assert not [p for p in path if p.startswith(lib)]
    assert pyspark_file == pyspark.__file__
    assert len(zips) == 1
    assert origin and origin.startswith(zips[0])
    assert importers == []


# --- the JVM class-data archive ------------------------------------------

_CHILD = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from mapreduce_go_spark import session
spark = session.get_spark()
sc = spark.sparkContext
print(json.dumps({
    "rows": len(spark.range(3).toPandas()),
    "options": sc.getConf().get("spark.driver.extraJavaOptions", ""),
    "conf_dir": os.environ.get("SPARK_CONF_DIR")}), flush=True)
if sys.argv[2] == "kill":  # end without the dump
    sc._gateway.proc.kill()
    sc._gateway.proc.wait()
"""
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _session_child(cache, mode="exit", **env):
    """A session in a fresh process with its own archive cache; returns
    what it reports. `kill` ends its JVM without letting it dump."""
    env = {**os.environ, "XDG_CACHE_HOME": str(cache),
           "SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_DRIVER_MEM": "1g", **env}
    out = subprocess.run([sys.executable, "-c", _CHILD, _REPO, mode],
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _cds_files(cache):
    d = os.path.join(cache, "mapreduce_go_spark", "cds")
    return sorted(n for n in os.listdir(d) if n.endswith((".jsa", ".tmp",
                                                          ".json")))


def _dead_pid():
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """One session that dumps the archive: (cache, key, record, a copy of
    the first half of its archive, a link to the whole of it)."""
    home = session._find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if not session._templates_only(conf):
        pytest.skip(f"{conf} holds settings: sessions start stock here")
    cache = tmp_path_factory.mktemp("cds-cache")
    out = _session_child(cache)
    assert "-XX:ArchiveClassesAtExit=" in out["options"]
    files = _cds_files(cache)
    assert [n.rsplit(".", 1)[1] for n in files] == ["json", "tmp"]
    d = os.path.join(cache, "mapreduce_go_spark", "cds")
    tmp = os.path.join(d, files[1])
    with open(os.path.join(d, files[0])) as fh:
        record = json.load(fh)
    copies = tmp_path_factory.mktemp("cds-copies")
    with open(tmp, "rb") as src:
        (copies / "half").write_bytes(src.read(os.path.getsize(tmp) // 2))
    os.link(tmp, copies / "whole")
    return (cache, files[0].split(".")[0], record, copies / "half",
            copies / "whole")


def test_second_session_maps_the_archive(dumped, tmp_path):
    """The next session publishes the finished dump and its JVM loads
    Spark's classes from it."""
    cache, key, *_ = dumped
    log = tmp_path / "load-%p.log"
    out = _session_child(cache, JAVA_TOOL_OPTIONS=(
        f"-Xlog:class+load=info:file={log}"))
    assert out["rows"] == 3 and out["conf_dir"] is None
    assert "-XX:SharedArchiveFile=" in out["options"]
    assert _cds_files(cache) == [f"{key}.jsa"]
    shared = [p for p in tmp_path.glob("load-*.log") if
              "org.apache.spark.SparkContext source: shared objects file "
              "(top)" in p.read_text()]
    assert len(shared) == 1


def test_torn_or_garbage_dump_never_reaches_a_jvm(dumped, tmp_path):
    """A temp file cut to half a real archive (a JVM killed while
    dumping; mapping it is a SIGBUS) and a garbage file fail the probe:
    both are deleted, nothing is published, and the session starts."""
    _, key, record, half, _ = dumped
    d = tmp_path / "mapreduce_go_spark" / "cds"
    d.mkdir(parents=True)
    for name, data in (("torn", half.read_bytes()),
                       ("junk", os.urandom(1 << 20))):
        (d / f"{key}.{name}.tmp").write_bytes(data)
        (d / f"{key}.{name}.json").write_text(
            json.dumps({**record, "pid": _dead_pid()}))
    out = _session_child(tmp_path, mode="kill")
    assert out["rows"] == 3
    assert "-XX:ArchiveClassesAtExit=" in out["options"]
    assert "SharedArchiveFile" not in out["options"]
    left = _cds_files(tmp_path)
    assert len(left) == 1 and left[0].startswith(key + ".")
    assert left[0].endswith(".json")  # the killed session's own record


_LAUNCH = """
import sys
sys.path.insert(0, sys.argv[1])
from mapreduce_go_spark import session
archive = session._archive_launch("local[1]", "1g")
print(archive and archive.options)
"""


def test_racing_sessions_publish_one_archive(dumped, tmp_path):
    """Six processes (more than the cores) start at once beside one
    finished dump: the cache lock lets one probe and publish it, and
    every one of them maps it."""
    _, key, record, _, whole = dumped
    d = tmp_path / "mapreduce_go_spark" / "cds"
    d.mkdir(parents=True)
    os.link(whole, d / f"{key}.race.tmp")
    (d / f"{key}.race.json").write_text(
        json.dumps({**record, "pid": _dead_pid()}))
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path)}
    procs = [subprocess.Popen([sys.executable, "-c", _LAUNCH, _REPO],
                              env=env, stdout=subprocess.PIPE, text=True)
             for _ in range(6)]
    options = [p.communicate(timeout=300)[0] for p in procs]
    assert all(f"-XX:SharedArchiveFile={d / key}.jsa" in o
               for o in options), options
    assert _cds_files(tmp_path) == [f"{key}.jsa"]
    assert os.path.samefile(d / f"{key}.jsa", whole)


@pytest.fixture
def fresh_jvm(monkeypatch, tmp_path):
    """The guard's inputs as for a process with no JVM yet, and an empty
    archive cache."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    for v in ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR",
              *session._CLASSPATH_ENV):
        monkeypatch.delenv(v, raising=False)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return tmp_path / "cache" / "mapreduce_go_spark" / "cds"


def test_new_local_jvm_dumps_with_an_empty_conf_dir(fresh_jvm):
    archive = session._archive_launch("local[2]", "1g")
    assert "-XX:ArchiveClassesAtExit=" in archive.options
    assert archive.conf_dir == str(fresh_jvm / "conf")
    assert os.listdir(archive.conf_dir) == []
    with open(archive.record) as fh:
        assert json.load(fh)["pid"] == os.getpid()


@pytest.mark.parametrize("master", [
    "yarn", "spark://host:7077", "local-cluster[2,1,1024]", "localhost",
])
def test_non_local_master_starts_stock(fresh_jvm, master):
    assert session._archive_launch(master, "1g") is None
    assert not fresh_jvm.exists()


@pytest.mark.parametrize("env", [
    {"PYSPARK_GATEWAY_PORT": "40000"},
    {"PYSPARK_SUBMIT_ARGS": "--driver-class-path /x.jar pyspark-shell"},
    {"HADOOP_CONF_DIR": "/etc/hadoop"},
    {"SPARK_DIST_CLASSPATH": "/opt/extra.jar"},
])
def test_other_launch_inputs_start_stock(fresh_jvm, monkeypatch, env):
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    assert session._archive_launch("local[2]", "1g") is None
    assert not fresh_jvm.exists()


def test_existing_gateway_starts_stock(fresh_jvm, monkeypatch):
    """After stop() the process reuses its JVM: flags would be ignored."""
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._archive_launch("local[2]", "1g") is None
    assert not fresh_jvm.exists()


def test_real_conf_dir_keeps_the_stock_start(fresh_jvm, monkeypatch,
                                             tmp_path):
    conf = tmp_path / "conf"
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert session._archive_launch("local[2]", "1g") is None
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert not fresh_jvm.exists()


def test_running_writer_keeps_its_temp_file(fresh_jvm):
    """A dump whose writer still runs is neither probed nor deleted, and
    a session started meanwhile starts stock instead of dumping too."""
    first = session._archive_launch("local[2]", "1g")  # writer: this pid
    tmp = first.record[:-len(".json")] + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(b"half-written")
    assert session._archive_launch("local[2]", "1g") is None
    with open(tmp, "rb") as fh:
        assert fh.read() == b"half-written"
    assert os.path.exists(first.record)
