"""Differential tests for the MapReduce-compat runner — the exact
shape of the reference's test suite (/root/reference/main/test-mr.sh):
distributed answer must equal the sequential oracle, after sort
canonicalization ("sort mr-out* | cmp", test-mr.sh:59-67)."""

import glob
import os

import pytest

from mapreduce_go_spark import runner


@pytest.fixture(scope="module")
def corpus_rows(spark, sf_dir):
    corpus = runner.corpus_from_documents(spark, sf_dir)
    return [(r.filename, r.contents) for r in corpus.collect()]


@pytest.mark.parametrize("app", sorted(runner.APPS))
def test_app_matches_sequential_oracle(spark, sf_dir, corpus_rows, app):
    mapf, reducef = runner.APPS[app]
    golden = sorted(runner.run_sequential(corpus_rows, mapf, reducef))
    corpus = runner.corpus_from_documents(spark, sf_dir)
    got = sorted(
        (r.key, r.out)
        for r in runner.run_job(spark, corpus, mapf, reducef, n_reduce=10)
        .collect()
    )
    assert got == golden


def test_text_shard_output(spark, sf_dir, corpus_rows, tmp_path):
    """mr-out parity: R = n_reduce text shards whose sorted
    concatenation equals the sequential oracle's formatted output,
    laid out as the reference's ihash(key) % nReduce buckets: shard i
    holds exactly the keys with pmod(hash(key), R) == i (Spark's
    murmur3, the hash HashPartitioning uses), in key order, and no key
    is in two shards."""
    from pyspark.sql import functions as F

    r = 5
    mapf, reducef = runner.APPS["wc"]
    out_dir = str(tmp_path / "mr-out")
    corpus = runner.corpus_from_documents(spark, sf_dir)
    runner.run_job(spark, corpus, mapf, reducef, n_reduce=r,
                   out_dir=out_dir).unpersist()
    shards = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    assert len(shards) == r
    lines_by_shard = {}
    for s in shards:
        with open(s) as f:
            lines_by_shard[int(os.path.basename(s).split("-")[1])] = [
                ln.rstrip("\n") for ln in f if ln.strip()]
    golden = sorted(
        f"{k} {v}" for k, v in
        runner.run_sequential(corpus_rows, mapf, reducef)
    )
    assert sorted(ln for lines in lines_by_shard.values()
                  for ln in lines) == golden
    assert sorted(lines_by_shard) == list(range(r))
    keys_by_shard = {i: [ln.split(" ", 1)[0] for ln in lines]
                     for i, lines in lines_by_shard.items()}
    for keys in keys_by_shard.values():
        assert keys == sorted(keys)
    all_keys = [k for keys in keys_by_shard.values() for k in keys]
    assert len(all_keys) == len(set(all_keys))
    bucket = {row.key: row.b for row in
              spark.createDataFrame([(k,) for k in all_keys], "key string")
              .select("key", F.expr(f"pmod(hash(key), {r})").alias("b"))
              .collect()}
    for i, keys in keys_by_shard.items():
        assert {bucket[k] for k in keys} <= {i}, i


def test_reduce_runs_on_coalesced_partitions(spark, sf_dir, corpus_rows):
    """AQE folds several hash partitions into one Python reduce task;
    each key still sits whole in one task, so wc and indexer keep
    matching the sequential oracle."""
    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "8")
    try:
        for app in ("wc", "indexer"):
            mapf, reducef = runner.APPS[app]
            corpus = runner.corpus_from_documents(spark, sf_dir)
            df = runner.run_job(spark, corpus, mapf, reducef)
            got = sorted((r.key, r.out) for r in df.collect())
            assert got == sorted(
                runner.run_sequential(corpus_rows, mapf, reducef)), app
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "AQEShuffleRead coalesced" in plan, plan
    finally:
        spark.conf.set(conf, saved)


def test_reduce_shuffle_is_coalescible(spark, sf_dir):
    """The reduce-side Exchange repartitions by column at the session's
    width (AQE may coalesce it), not by a fixed number (it may not)."""
    mapf, reducef = runner.APPS["wc"]
    corpus = runner.corpus_from_documents(spark, sf_dir)
    df = runner.run_job(spark, corpus, mapf, reducef, n_reduce=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_COL" in plan, plan
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_whole_text_file_corpus(spark, tmp_path):
    """F1 parity: one (filename, contents) row per file via
    wholeTextFiles, fed through the wc job."""
    (tmp_path / "a.txt").write_text("hello world hello")
    (tmp_path / "b.txt").write_text("world of spark")
    corpus = runner.corpus_from_dir(spark, str(tmp_path))
    rows = [(r.filename, r.contents) for r in corpus.collect()]
    assert len(rows) == 2 and all(c for _, c in rows)
    got = {
        r.key: r.out
        for r in runner.run_job(
            spark, corpus, runner.wc_map, runner.wc_reduce, n_reduce=2
        ).collect()
    }
    assert got == {"hello": "2", "world": "2", "of": "1", "spark": "1"}


def test_table_handle_memos(spark, sf_dir):
    """r16: tables.load / tables.spread memoize LAZY handles per
    session — same immutable plan object back, no data cached, and
    the spread memo stays bounded (a streaming session spreading
    fresh micro-batch frames must not accumulate refs forever)."""
    from mapreduce_go_spark import tables

    a = tables.load(spark, sf_dir, "documents")
    b = tables.load(spark, sf_dir, "documents")
    assert a is b
    assert tables.spread(a) is tables.spread(b)
    # no Spark-side caching involved: the handle memo must leave the
    # catalog cache untouched
    assert not a.is_cached
    # cap: filling the memo past the bound clears it rather than grow
    tables._SPREAD_MEMO.clear()
    for i in range(tables._SPREAD_MEMO_CAP + 3):
        tables.spread(a.limit(i + 1))
    assert len(tables._SPREAD_MEMO) <= tables._SPREAD_MEMO_CAP
