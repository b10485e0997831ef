"""Multi-executor correctness parity: representative queries run on a
REAL local-cluster (standalone master + two separate-JVM 1-core
executors — the same fabric test_faults.py's retry test uses) and
must match their DuckDB oracles bit-for-bit.

local[N] shares one JVM, one block manager and the driver's Python
workers; a genuine cluster does not. This test pins the behaviors
that only break cross-executor: package shipping to executor Python
workers (addPyFile, not sys.path), Arrow batch transfer for pandas
UDFs through remote python workers, broadcast distribution to a
second JVM, and shuffle reads across executor boundaries. One query
per risk class, sf0.01 to keep the 1 GiB executors comfortable."""

import os
import subprocess
import sys
import textwrap

_TESTS = os.path.dirname(os.path.abspath(__file__))

# query -> why it's in the sample
SAMPLE = {
    "wc": "reference app, explode + shuffle agg",
    "pricing_summary": "JVM codegen aggregate",
    "grouped_agg_mad": "pandas GROUPED_AGG UDAF via remote python workers",
    "bloom_decontaminate": "broadcast sketch + python kernel cross-JVM",
    "skew_join_stats": "spread + sort-merge join across executors",
    # r12: the trained-codebook disk artifact must be readable from a
    # driver that trains while executors assign (grid_dot pandas
    # kernels remote), and the RRF fusion's broadcast candidate
    # set + full-outer fuse must survive a second JVM
    "ann_ivf_sampled_topk": "disk codebook + remote Arrow assign kernels",
    "hybrid_rrf_topk": "broadcast probe/candidate sets + full-outer fuse",
}


def test_oracle_parity_on_local_cluster(sf_dir):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {os.path.dirname(_TESTS)!r})
        sys.path.insert(0, {_TESTS!r})
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local-cluster[2,1,1024]")
                 .appName("cluster-parity")
                 .config("spark.executor.memory", "1g")
                 .config("spark.sql.shuffle.partitions", "8")
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
        from mapreduce_go_spark.session import ensure_package_on_workers
        ensure_package_on_workers(spark)
        import __spark_entry__ as e
        from helpers import canonical_rows
        import duckdb
        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute("create view " + t + " as select * from "
                        "'" + {sf_dir!r} + "/" + t + ".parquet'")
        qs, osql = e.queries(), e.oracle_sql()
        for name in {list(SAMPLE)!r}:
            df = qs[name](spark, {sf_dir!r})
            scols, srows = canonical_rows(
                df.columns, [tuple(r) for r in df.collect()])
            cur = con.execute(osql[name])
            dcols, drows = canonical_rows(
                [d[0] for d in cur.description], cur.fetchall())
            assert (scols, srows) == (dcols, drows), name
            print("PARITY_OK", name, len(srows))
        # prove the work really crossed executors: the python workers'
        # cwds are per-executor work dirs (the test_faults.py trick)
        import os
        cwds = set(spark.sparkContext.parallelize(range(16), 8)
                   .map(lambda x: os.getcwd()).distinct().collect())
        assert len(cwds) >= 2, cwds
        spark.stop()
        print("ALL_PARITY_OK")
    """)
    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, timeout=540)
    assert "ALL_PARITY_OK" in out.stdout, (
        out.stdout[-1000:] + "\n" + out.stderr[-3000:])
    for name in SAMPLE:
        assert f"PARITY_OK {name}" in out.stdout, out.stdout[-1000:]
