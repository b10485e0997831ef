"""The exactly-once epoch protocol of the incremental streaming jobs
(streaming.jobs._epoch_commit), driven job by job without a stream.

Every job with an index runs two epochs on two small batches. The
committed state — every per-epoch output partition and the final index
snapshot — must then come back row for row from each way an epoch can
be re-fired: a committed replay, a replay after the index commit marker
was lost, a replay over a half-written attempt directory, and a replay
after a crash inside the epoch's first write.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from mapreduce_go_spark import tables
from mapreduce_go_spark.operators.dedup import LSH_BUCKET_CAP
from mapreduce_go_spark.streaming import jobs


def _index_only(epoch_fn):
    return lambda batch, epoch, index_dir, out_dir: epoch_fn(
        batch, epoch, index_dir)


# job -> (input table, epoch(batch, epoch_id, index_dir, out_dir),
#         whether the job writes a per-epoch output)
JOBS = {
    "rollup": ("events", _index_only(jobs._merge_rollup_epoch), False),
    "neardup": ("documents",
                lambda b, e, i, o: jobs._neardup_epoch(
                    b, e, i, o, bucket_cap=LSH_BUCKET_CAP), True),
    "cdc": ("documents", jobs._cdc_epoch, True),
    "dupspan": ("documents", jobs._dupspan_epoch, True),
    "retrieval": ("documents", jobs._retrieval_epoch, True),
    "phash": ("documents", jobs._phash_epoch, True),
    "hll": ("documents", _index_only(jobs._hll_epoch), False),
    "cms": ("documents", _index_only(jobs._cms_epoch), False),
    "bloom": ("documents", _index_only(jobs._bloom_epoch), False),
    "boiler": ("documents", _index_only(jobs._boiler_epoch), False),
    "urlseen": ("documents", jobs._urlseen_epoch, True),
}


@pytest.fixture(scope="module")
def batches(spark, sf_dir):
    """Each input table split in two at its median id."""
    out = {}
    for table, key in (("documents", "doc_id"), ("events", "event_id")):
        df = tables.load(spark, sf_dir, table)
        med = df.agg(F.expr(f"percentile({key}, 0.5)")).collect()[0][0]
        out[table] = (df.where(F.col(key) <= med), df.where(F.col(key) > med))
    return out


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _state(spark, index_dir, out_dir, has_output):
    index = _rows(spark.read.parquet(os.path.join(index_dir, "v=1")))
    output = _rows(spark.read.parquet(out_dir)) if has_output else None
    return index, output


def _crash_once_writing(monkeypatch, path):
    """Make the parquet writer raise, before writing anything, on its
    next write to `path`."""
    real = DataFrameWriter.parquet
    fired = []

    def parquet(self, p, *args, **kwargs):
        if not fired and os.path.normpath(p) == os.path.normpath(path):
            fired.append(p)
            raise RuntimeError(f"injected crash writing {p}")
        return real(self, p, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


@pytest.mark.parametrize("job", list(JOBS))
def test_replayed_epoch_leaves_committed_state_unchanged(
        spark, batches, tmp_path, monkeypatch, job):
    table, run, has_output = JOBS[job]
    b0, b1 = batches[table]
    idx, out = str(tmp_path / "index"), str(tmp_path / "out")
    v1 = os.path.join(idx, "v=1")

    run(b0, 0, idx, out)
    run(b1, 1, idx, out)
    want = _state(spark, idx, out, has_output)
    assert want[0], f"{job}: empty index"
    if has_output:
        assert want[1], f"{job}: empty output"
        assert sorted(os.listdir(out)) == ["epoch=0", "epoch=1"]

    # committed replay: skipped before it writes anything
    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet",
                  lambda *a, **k: pytest.fail("committed replay wrote"))
        run(b1, 1, idx, out)
    assert _state(spark, idx, out, has_output) == want, "committed replay"

    # crash after the index files landed but before its commit marker
    os.remove(os.path.join(v1, "_SUCCESS"))
    run(b1, 1, idx, out)
    assert _state(spark, idx, out, has_output) == want, "crash replay"

    # a half-written attempt: a torn part file and no commit marker
    shutil.rmtree(v1)
    os.makedirs(v1)
    with open(os.path.join(v1, "part-00000-torn.snappy.parquet"), "wb") as f:
        f.write(b"PAR1 torn")
    run(b1, 1, idx, out)
    assert _state(spark, idx, out, has_output) == want, \
        "replay over a half-written attempt"

    # roll back to the state after epoch 0, crash inside the epoch's
    # first write (its output if it has one, else its index), replay
    shutil.rmtree(v1)
    shutil.rmtree(os.path.join(out, "epoch=1"), ignore_errors=True)
    _crash_once_writing(monkeypatch,
                        os.path.join(out, "epoch=1") if has_output else v1)
    with pytest.raises(RuntimeError, match="injected crash"):
        run(b1, 1, idx, out)
    run(b1, 1, idx, out)
    assert _state(spark, idx, out, has_output) == want, \
        "replay after a crash in the first write"
