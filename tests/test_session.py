"""The Python-worker launcher of session.get_spark: its guard (pure, on
a stand-in context, so no session is built) and what a worker of the
tests' session imports."""

import os
import subprocess
import sys
from types import SimpleNamespace as NS

import pyspark
import pytest

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
