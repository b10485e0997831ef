"""k-means differential test: the distributed implementation must
match an independent NumPy re-implementation exactly (same
deterministic init, same fixed iterations, same grid arithmetic, same
tie rule) — and the grid arithmetic must not distort the semantics
(grid centroids stay within float noise of plain-float Lloyd's)."""

import numpy as np
import pyarrow.parquet as pq
import pytest

from mapreduce_go_spark.operators import kmeans
from mapreduce_go_spark.operators.similarity import (
    IVF_SAMPLE_FRAC, IVF_TRAINED_K)


def _round_half_away(p):
    return np.copysign(np.floor(np.abs(p) + 0.5), p).astype(np.int64)


def _numpy_kmeans(sf_dir, k, iterations):
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    df = t.to_pandas().sort_values("vec_id", kind="stable")
    X = np.array([np.asarray(e, dtype=np.float64) for e in df["embedding"]])
    XG = _round_half_away(X * 1e12)
    cent = X[:k].copy()
    plain = X[:k].copy()

    def assign(C):
        d = _round_half_away(
            ((X[:, None, :] - C[None, :, :]) ** 2) * 1e12).sum(axis=2)
        return d.argmin(axis=1)  # lowest index on ties

    for _ in range(iterations):
        a = assign(cent)
        ap = ((X[:, None, :] - plain[None, :, :]) ** 2).sum(2).argmin(1)
        for ci in range(k):
            m = a == ci
            if m.any():
                cent[ci] = XG[m].sum(axis=0) / 1e12 / int(m.sum())
            mp = ap == ci
            if mp.any():
                plain[ci] = X[mp].mean(axis=0)
    a = assign(cent)
    sizes = {ci: int((a == ci).sum()) for ci in range(k) if (a == ci).any()}
    norms = {ci: round(float(np.sqrt((cent[ci] ** 2).sum())), 6)
             for ci in sizes}
    return sizes, norms, cent, plain


def test_kmeans_matches_numpy(spark, sf_dir):
    got = {r.cluster: (r.size, r.centroid_norm)
           for r in kmeans.kmeans_fit(spark, sf_dir).collect()}
    sizes, norms, cent, plain = _numpy_kmeans(
        sf_dir, kmeans.K, kmeans.ITERATIONS)
    want = {ci: (sizes[ci], norms[ci]) for ci in sizes}
    assert set(got) == set(want)
    for ci in want:
        assert got[ci][0] == want[ci][0], (ci, got[ci], want[ci])
        assert abs(got[ci][1] - want[ci][1]) < 1e-6, (ci, got[ci], want[ci])
    # the 1e-12 grid is a comparison device, not a semantic change:
    # grid centroids sit within float noise of plain-float Lloyd's
    assert np.abs(cent - plain).max() < 1e-9


def test_kmeans_twin_matches_independent_numpy(sf_dir):
    """The module's oracle-building twin must agree with this file's
    independent reimplementation (guards the oracle builder itself)."""
    C, sizes = kmeans._kmeans_twin(sf_dir)
    want_sizes, _, cent, _ = _numpy_kmeans(
        sf_dir, kmeans.K, kmeans.ITERATIONS)
    assert sizes == want_sizes
    assert (C == cent).all()


def test_codebook_disk_cache_serves_fresh_process(spark, sf_dir):
    """The on-disk codebook artifact (VERDICT r11 item 1) must let a
    fresh process skip Lloyd's entirely: after training once, clear
    the in-process cache and break table access — the centroids must
    come back bit-identical from disk without touching Spark."""
    c1 = kmeans.kmeans_centroids(spark, sf_dir)
    kmeans._CODEBOOK_CACHE.clear()

    def broken_load(*a, **kw):
        raise AssertionError("disk-cached codebook must not re-scan")

    orig = kmeans.tables.load
    kmeans.tables.load = broken_load
    try:
        c2 = kmeans.kmeans_centroids(spark, sf_dir)
    finally:
        kmeans.tables.load = orig
    assert c1 == c2  # exact float equality: float.hex round-trip


def test_codebook_disk_load_rejects_key_mismatch(tmp_path):
    """A stored codebook whose embedded key differs from the request
    (hash-tag collision, hand-edited file, regenerated fixture) must
    be treated as a miss, not served."""
    key_a = ("/x", 4, 3, "full", "1:2")
    key_b = ("/x", 4, 3, "full", "9:9")  # different content key
    path = str(tmp_path / "cb.json")
    kmeans._codebook_disk_store(path, key_a, [[1.5, -2.25]])
    assert kmeans._codebook_disk_load(path, key_a) == [[1.5, -2.25]]
    assert kmeans._codebook_disk_load(path, key_b) is None


def test_codebook_disk_load_survives_corruption(tmp_path):
    """Truncated/garbage artifacts degrade to a retrain, never an
    exception or wrong data."""
    path = str(tmp_path / "cb.json")
    with open(path, "w") as f:
        f.write('{"key": ["/x"], "centroids_hex": [["not-a-float"')
    assert kmeans._codebook_disk_load(path, ("/x",)) is None


def test_codebook_sampled_training_is_distinct_and_deterministic(
        spark, sf_dir):
    """sample_frac trains on a strict subset (different centroids than
    full training at fixture scale) and is deterministic — two calls,
    the second after clearing both cache tiers, agree exactly."""
    import os

    full = kmeans.kmeans_centroids(spark, sf_dir)
    s1 = kmeans.kmeans_centroids(spark, sf_dir, sample_frac=0.5)
    assert s1 != full
    kmeans._CODEBOOK_CACHE.clear()
    ck = (os.path.abspath(sf_dir), kmeans.K, kmeans.ITERATIONS,
          repr(0.5), kmeans._embeddings_content_key(sf_dir))
    os.remove(kmeans._codebook_disk_path(ck))
    s2 = kmeans.kmeans_centroids(spark, sf_dir, sample_frac=0.5)
    assert s1 == s2


def _write_embeddings(path, ids, X, null_ids=()):
    """An embeddings.parquet with the fixture schema; rows whose id is
    in `null_ids` get a NULL embedding."""
    import pyarrow as pa

    emb = [None if i in null_ids else [float(v) for v in x]
           for i, x in zip(ids, X)]
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(emb, pa.list_(pa.float32())),
        "label": pa.array([0] * len(ids), pa.int32()),
    }), f"{path}/embeddings.parquet")


def test_codebooks_train_past_a_null_embedding(tmp_path):
    """A NULL embedding among the lowest TRAIN_CAP ids is dropped from
    the shared training sample: the PQ codebooks (which used to raise
    'inhomogeneous shape' on it) and the IVF codebook both train on
    exactly the non-NULL rows — the same codebooks as on a file that
    never held the NULL row."""
    from mapreduce_go_spark.operators import similarity

    rng = np.random.default_rng(3)
    ids = list(range(300))
    X = rng.standard_normal((300, 64)).astype(np.float32)
    with_null, without = tmp_path / "with_null", tmp_path / "without"
    with_null.mkdir()
    without.mkdir()
    _write_embeddings(with_null, ids, X, null_ids={5})
    _write_embeddings(without, ids[:5] + ids[6:], np.delete(X, 5, 0))

    assert (similarity._pq_codebooks(str(with_null))
            == similarity._pq_codebooks(str(without))).all()
    sample = kmeans.embedding_sample(str(with_null), kmeans.TRAIN_CAP)
    assert sample.shape == (299, 64)
    assert (sample == kmeans.embedding_sample(
        str(without), kmeans.TRAIN_CAP)).all()
    assert (kmeans.ivf_codebook(str(with_null), 8)
            == kmeans.ivf_codebook(str(without), 8)).all()


@pytest.mark.parametrize("sample_frac", [None, IVF_SAMPLE_FRAC])
@pytest.mark.parametrize("k", [kmeans.K, IVF_TRAINED_K])
def test_ivf_codebook_equals_spark_loop(spark, sf_dir, k, sample_frac):
    """The Spark-free IVF trainer and kmeans_centroids' Spark Lloyd
    loop return bit-identical centroids whenever the sample holds every
    row (500 <= TRAIN_CAP at sf0.01), so moving the IVF queries to the
    trainer changes no plan literal and no oracle."""
    spark_c = np.asarray(kmeans.kmeans_centroids(
        spark, sf_dir, k=k, sample_frac=sample_frac))
    C = kmeans.ivf_codebook(sf_dir, k, sample_frac)
    assert C.shape == spark_c.shape
    assert (C == spark_c).all()


def test_ivf_codebook_trains_on_the_lowest_cap_ids(spark, sf_dir,
                                                   tmp_path, monkeypatch):
    """With TRAIN_CAP below the table size the trainer equals the
    Spark Lloyd loop run on a table of only the lowest TRAIN_CAP ids
    — and differs from full training, so a trainer that ignored the
    cap would fail here."""
    cap = 40
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").sort_by("vec_id")
    pq.write_table(t.slice(0, cap), f"{tmp_path}/embeddings.parquet")
    monkeypatch.setattr(kmeans, "TRAIN_CAP", cap)
    kmeans._ivf_codebook_cached.cache_clear()
    try:
        C = kmeans.ivf_codebook(sf_dir, 8)
    finally:
        kmeans._ivf_codebook_cached.cache_clear()
    want = np.asarray(kmeans.kmeans_centroids(spark, str(tmp_path), k=8))
    assert (C == want).all()
    full = np.asarray(kmeans.kmeans_centroids(spark, sf_dir, k=8))
    assert not (C == full).all()


def test_no_ivf_query_runs_the_spark_lloyd_loop(spark, sf_dir,
                                                monkeypatch):
    """Building every trained-IVF query, from a cold codebook cache,
    never calls kmeans_centroids: the coarse quantizer is trained
    Spark-free (ivf_codebook), so no training job runs at construct
    time."""
    from mapreduce_go_spark.operators import similarity

    def spark_loop(*a, **kw):
        raise AssertionError("an IVF query ran the Spark Lloyd loop")

    monkeypatch.setattr(kmeans, "kmeans_centroids", spark_loop)
    kmeans._ivf_codebook_cached.cache_clear()
    for build in (similarity.ann_ivf_trained_topk,
                  similarity.ann_ivf_sampled_topk,
                  similarity.ann_ivf_hamming_topk,
                  similarity.ann_ivf_pq_topk,
                  similarity.ann_recall_dashboard):
        assert build(spark, sf_dir).columns
