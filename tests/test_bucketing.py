"""Bucketed-table co-located join: pre-bucketing both fact tables on
the join key removes the per-query shuffle entirely (SCALE.md: the
100 TB layout for repeated fact-fact joins). Asserts the physical
plan contains NO Exchange."""

import contextlib
import io

from pyspark.sql import functions as F

from mapreduce_go_spark import tables


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity")
    od = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")

    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .option("path", str(tmp_path / "li_b"))
     .mode("overwrite").saveAsTable("li_bucketed"))
    (od.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .option("path", str(tmp_path / "od_b"))
     .mode("overwrite").saveAsTable("od_bucketed"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table("li_bucketed")
             .join(spark.table("od_bucketed"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("l_orderkey")
             .agg(F.count("*").alias("n")))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        # and it still computes the right thing
        expected = (li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
                    .groupBy("l_orderkey").agg(F.count("*").alias("n")))
        got = sorted(map(tuple, j.collect()))
        assert got == sorted(map(tuple, expected.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS od_bucketed")


def test_bucketed_table_self_heals_after_path_loss(spark, sf_dir):
    """If the backing files of the session-cached bucketed table
    vanish (tmp-cleaner scenario), _bucketed_table must detect the
    stale catalog entry and rewrite instead of returning a reader over
    a missing path."""
    import os
    import shutil

    from mapreduce_go_spark.operators import joins

    df1 = joins._bucketed_table(spark, sf_dir, "orders", "o_orderkey",
                                ["o_orderkey", "o_totalprice"])
    n1 = df1.count()
    assert n1 > 0
    from mapreduce_go_spark.workspace import _workspace_dir
    base = os.path.join(_workspace_dir(),
                        spark.sparkContext.applicationId)
    shutil.rmtree(base)  # simulate the tmp cleaner
    df2 = joins._bucketed_table(spark, sf_dir, "orders", "o_orderkey",
                                ["o_orderkey", "o_totalprice"])
    assert df2.count() == n1


def test_dead_session_scratch_is_swept_on_startup(spark, tmp_path,
                                                  monkeypatch):
    """VERDICT r15 item 7: atexit cleanup is best-effort (hard-killed
    sessions leave their scratch behind — ~90 MB of orphans had
    accumulated), so the first session_scratch call sweeps siblings
    whose owning pid is dead or that carry no pidfile (legacy appId
    dirs), while live-pid siblings and the durable codebooks store
    survive."""
    import os

    from mapreduce_go_spark import workspace

    ws = str(tmp_path / "ws")
    monkeypatch.setenv("SPARK_GRAFT_WORKSPACE", ws)
    legacy = os.path.join(ws, "local-1786847808652")
    dead = os.path.join(ws, "app-dead")
    live = os.path.join(ws, "local-other-live")
    books = os.path.join(ws, "codebooks")
    for d in (legacy, dead, live, books):
        os.makedirs(d)
    with open(os.path.join(dead, ".owner_pid"), "w") as fh:
        fh.write("999999999")  # beyond pid_max: guaranteed dead
    with open(os.path.join(live, ".owner_pid"), "w") as fh:
        fh.write(str(os.getpid()))

    base = workspace.session_scratch(spark)
    assert not os.path.exists(legacy)
    assert not os.path.exists(dead)
    assert os.path.isdir(live)
    assert os.path.isdir(books)
    with open(os.path.join(base, ".owner_pid")) as fh:
        assert fh.read() == str(os.getpid())


def test_bucketed_table_keys_fixture_by_absolute_path(spark, sf_dir):
    """A relative and an absolute spelling of one fixture dir name one
    bucketed table, not two copies."""
    import os

    from mapreduce_go_spark.operators import joins

    def bucketed_names():
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("orders_bucketed_")}

    before = bucketed_names()
    cols = ["o_orderkey", "o_custkey"]
    for spelling in (os.path.abspath(sf_dir), os.path.relpath(sf_dir)):
        joins._bucketed_table(spark, spelling, "orders", "o_orderkey", cols)
    assert len(bucketed_names() - before) == 1


def _split_fixture(src, dst, parity):
    """`dst` with the events and documents of `src` whose id has the
    given parity, in the source files' own parquet types."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(dst)
    for table, key in (("events", "event_id"), ("documents", "doc_id")):
        t = pq.read_table(os.path.join(src, f"{table}.parquet"))
        t = t.filter(pc.equal(pc.bit_wise_and(t[key], 1), parity))
        pq.write_table(t, os.path.join(dst, f"{table}.parquet"))


def test_same_basename_fixtures_get_their_own_artifacts(spark, sf_dir,
                                                        tmp_path):
    """Two fixture dirs with the same last path component must not
    share a session artifact: each is served its own rows."""
    from mapreduce_go_spark.operators import pruning, warehouse

    for parity, side in ((0, "a"), (1, "b")):
        fixture = str(tmp_path / side / "sf")
        _split_fixture(sf_dir, fixture, parity)
        events = spark.read.parquet(
            pruning.ensure_partitioned_events(spark, fixture))
        docs = warehouse.jsonl_roundtrip(spark, fixture)
        for df, key in ((events, "event_id"), (docs, "doc_id")):
            ids = [r[0] for r in df.select(key).collect()]
            assert ids and {i % 2 for i in ids} == {parity}, (side, key)


def test_materialize_once_writes_once_across_threads(spark, tmp_path):
    """Two driver threads asking for one artifact run `write` once."""
    import os
    import threading
    import time

    from mapreduce_go_spark import workspace

    calls = []
    start = threading.Barrier(2)

    def write(path):
        calls.append(path)
        time.sleep(0.2)  # hold the write open while the other asks
        os.makedirs(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    paths = []

    def request():
        start.wait()
        paths.append(workspace.materialize_once(
            spark, "thread_probe", str(tmp_path), "", write))

    threads = [threading.Thread(target=request) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1
    assert paths == calls * 2


def test_materialize_once_rewrites_after_failed_write(spark, tmp_path):
    """A write that raises leaves no _SUCCESS, and the next request
    writes again."""
    import os

    import pytest

    from mapreduce_go_spark import workspace

    calls = []

    def failing(path):
        calls.append(path)
        os.makedirs(path)
        open(os.path.join(path, "part-0"), "w").close()
        raise RuntimeError("injected write failure")

    def write(path):
        calls.append(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    with pytest.raises(RuntimeError):
        workspace.materialize_once(spark, "fail_probe", str(tmp_path), "",
                                   failing)
    path = calls[0]
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))
    assert workspace.materialize_once(
        spark, "fail_probe", str(tmp_path), "", write) == path
    assert calls == [path, path]
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_warc_files_self_heal_after_scratch_loss(spark, sf_dir):
    """The .warc fixture files are rebuilt, byte for byte, after the
    session scratch vanishes (tmp-cleaner scenario)."""
    import glob
    import os
    import shutil

    from mapreduce_go_spark import workspace
    from mapreduce_go_spark.sources import warc_source

    def archives(path):
        return {os.path.basename(f): open(f, "rb").read()
                for f in glob.glob(os.path.join(path, "*.warc"))}

    path = warc_source.ensure_warc_files(spark, sf_dir)
    want = archives(path)
    assert want
    shutil.rmtree(workspace.session_scratch(spark))
    assert warc_source.ensure_warc_files(spark, sf_dir) == path
    assert archives(path) == want
