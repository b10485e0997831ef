"""k-means over the embeddings table: fixed-iteration Lloyd's on the
exact 1e-12 integer grid (the functions/simd.py rounding-parity
discipline), so assignment argmins are exact int64 comparisons and
centroid updates are the same float64 sequence on every side.

Two trainers run that one arithmetic:
- kmeans_centroids, the Spark loop behind kmeans_fit: each iteration
  is one assignment pass + one partial-aggregated groupBy, and only
  k*dim grid-sum longs cross the driver per iteration. The reference
  could express one iteration as a map (assign, needs the centroids
  in every mapper — its analog of a broadcast) + reduce
  (re-average); the driver loop is the chained-jobs idiom (SURVEY
  §2.4 D14), and Spark collapses each iteration to one stage pair.
- _lloyd, its Spark-free NumPy twin. kmeans_fit's lazy DuckDB oracle
  embeds the twin's centroids over the whole table
  (_kmeans_twin) as literals and recomputes the assignment + sizes
  in SQL — a value-level differential, not a hash pin. ivf_codebook
  trains the trained-IVF coarse quantizer with it on a bounded
  sample (embedding_sample: the lowest TRAIN_CAP ids, the PQ
  codebooks' sample too), the standard index-build shape, so
  building an IVF query runs no training job and the query and its
  oracle inline one codebook.

Deterministic by construction: centroids initialize from the k lowest
vec_ids, iterations are fixed-count, distances break ties by centroid
index (array_min struct order / ORDER BY d, i / numpy first-argmin),
and an empty cluster keeps its centroid. tests/test_kmeans.py pins
the two trainers bit-identical.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_go_spark import tables

K = 4
ITERATIONS = 3
_SCALE = 1e12  # |x*1e12| and |(x-c)^2*1e12| stay far under 2^51 here


def _dist_array_sql(centroids: list[list[float]]) -> str:
    """SQL string for array(struct(d, i), ...): the GRID distance
    sum(round((x-c)^2 * 1e12)) of `embedding` to every centroid — an
    int64 per centroid, so any min/rank over it is exact and
    engine-portable (struct order breaks ties by centroid index).
    Centroids are inlined literals (repr round-trips float64 exactly)
    — the broadcast analog for a k x dim constant. ONE string: a py4j
    round-trip per operator node would cost seconds at k*dim nodes
    (the simhash lesson, .claude/skills/verify). Shared by the
    assignment argmin here and the trained-IVF probe ranking
    (similarity.ann_ivf_trained_topk)."""
    dist_structs = []
    for ci, c in enumerate(centroids):
        arr = "array(" + ",".join(
            f"cast('{float(v)!r}' as double)" for v in c) + ")"
        d = (
            f"aggregate(zip_with(embedding, {arr}, (x, y) -> "
            f"cast(round((cast(x as double) - y) * "
            f"(cast(x as double) - y) * 1e12) as bigint)), "
            f"cast(0 as bigint), (acc, v) -> acc + v)"
        )
        dist_structs.append(f"struct({d} as d, {ci} as i)")
    return f"array({', '.join(dist_structs)})"


def _assign(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Add a `cluster` column: index of the nearest centroid (exact
    int64 grid argmin, ties -> lowest index). Runs the Arrow-
    vectorized kernel (simd.make_centroid_assign) — identical values
    to the interpreted array_min(_dist_array_sql).i form (pinned in
    tests/test_simd.py), without the k x dim expression-tree walk per
    row that dominated the trained-IVF scan at 10x."""
    from mapreduce_go_spark.functions.simd import make_centroid_assign

    assign = make_centroid_assign(centroids)
    return emb.withColumn("cluster", assign(F.col("embedding")))


def _assign_interpreted(emb: DataFrame,
                        centroids: list[list[float]]) -> DataFrame:
    """The pure-SQL HOF form of _assign — kept as the differential
    reference for the vectorized kernel (tests/test_simd.py), the
    make_rolling_hash discipline. NULL embedding -> NULL cluster,
    explicitly: the bare array_min form happens to return 0 for a
    NULL embedding (all-NULL distances tie-break to index 0), which
    is an accident, not a semantic — both forms now null-propagate
    like every sibling kernel."""
    best = (f"CASE WHEN embedding IS NULL THEN NULL "
            f"ELSE array_min({_dist_array_sql(centroids)}).i END")
    return emb.selectExpr("*", f"{best} as cluster")


def _update(centroids: list[list[float]], sums_rows: dict,
            k: int, dim: int) -> list[list[float]]:
    """Centroid update from per-cluster grid sums: (gs/1e12)/n in
    plain float64 — the identical IEEE sequence the NumPy twin runs,
    so both sides hold bit-identical centroids every round. Empty
    clusters keep their previous centroid."""
    return [
        [sums_rows[ci][f"s{i}"] / _SCALE / sums_rows[ci]["n"]
         for i in range(dim)]
        if ci in sums_rows else centroids[ci]
        for ci in range(k)
    ]


# kmeans_centroids' codebooks are CURATED ARTIFACTS, not per-query
# work: trained once, served to every query after (the bucketed-layout
# amortization discipline applied to model state). Two cache tiers:
#   1. _CODEBOOK_CACHE — per-process dict, saves the py4j round-trips
#      inside one session;
#   2. an on-disk JSON artifact under the WORKSPACE ROOT (not
#      session_scratch, which is wiped at exit) — so a FRESH process
#      (the driver bench, a new notebook) loads the codebook instead
#      of re-running Lloyd's 4-job driver loop (a fresh process
#      measured 4.53 s vs a warm 1.01 s for exactly this reason).
# Both tiers key on the full training configuration PLUS a content
# key (mtime_ns:size of embeddings.parquet), so regenerating the
# fixture in place — even within one interpreter — invalidates the
# entry instead of serving stale centroids. Deterministic
# training makes the cache semantics-free: any rerun produces the
# identical codebook (the _kmeans_twin bit-equality), and floats are
# stored as float.hex() so the disk round-trip is bit-exact.
_CODEBOOK_CACHE: dict[tuple, list[list[float]]] = {}

_CODEBOOK_FORMAT = 1


def _embeddings_content_key(sf_dir: str) -> str:
    """Cheap invalidation key for the training input: mtime_ns + size
    of embeddings.parquet. Changes whenever the fixture is rewritten."""
    import os

    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    return f"{st.st_mtime_ns}:{st.st_size}"


def _codebook_disk_path(cache_key: tuple) -> str:
    """Location of the persisted codebook for `cache_key`: a content-
    addressed JSON file under <workspace>/codebooks/. The workspace
    root (joins._workspace_dir) survives process exit by design — the
    same place the bucketed layouts would live if they weren't
    session-scoped."""
    import hashlib
    import os

    from mapreduce_go_spark.workspace import _workspace_dir

    tag = hashlib.md5(
        "|".join(str(p) for p in (_CODEBOOK_FORMAT, *cache_key))
        .encode()).hexdigest()[:16]
    return os.path.join(_workspace_dir(), "codebooks", f"cb_{tag}.json")


def _codebook_disk_load(path: str, cache_key: tuple):
    """Read a persisted codebook; None on any miss/corruption (the
    caller retrains and overwrites — the artifact is a pure cache).
    The stored key is re-checked verbatim: a hash-tag collision or a
    hand-edited file must not smuggle in wrong centroids."""
    import json
    import os

    if not os.path.exists(path):
        return None
    try:
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        # valid JSON whose top level is not an object must hit the
        # None-on-corruption contract, not AttributeError
        if not isinstance(doc, dict):
            return None
        if doc.get("key") != [str(p) for p in cache_key]:
            return None
        return [[float.fromhex(h) for h in row]
                for row in doc["centroids_hex"]]
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _codebook_disk_store(path: str, cache_key: tuple,
                         centroids: list[list[float]]) -> None:
    """Persist atomically (mkstemp + os.replace — the session.py
    pyfiles-zip discipline): two concurrent trainers race benignly,
    last-writer-wins with identical bytes. Failures are swallowed —
    a read-only workspace degrades to per-process caching."""
    import json
    import os
    import tempfile

    tmp = None
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(path), suffix=".tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump({
                "key": [str(p) for p in cache_key],
                "centroids_hex": [
                    [float(v).hex() for v in row] for row in centroids],
            }, f)
        os.replace(tmp, path)
    except OSError:
        # swallowed per contract, but don't leave the mkstemp file
        # behind in the never-wiped codebooks dir
        if tmp is not None:
            try:
                os.unlink(tmp)
            except OSError:
                pass


# Deterministic sampling for codebook training at scale: keep vec_id
# iff pmod(xxhash64(vec_id), _SAMPLE_MOD) < frac * _SAMPLE_MOD.
# xxhash64 is a fixed, documented function (seed 42) of the id alone —
# the sample is stable across runs, partitionings and cluster sizes,
# unlike df.sample whose row selection depends on partition layout.
_SAMPLE_MOD = 1_000_000


def kmeans_centroids(spark: SparkSession, sf_dir: str,
                     k: int = K,
                     iterations: int = ITERATIONS,
                     sample_frac: float | None = None,
                     ) -> list[list[float]]:
    """Train fixed-iteration Lloyd's over the embeddings table and
    return the k final centroids as plain float64 lists — the
    codebook kmeans_fit's sizes query inlines as literals.
    Bit-identical to _lloyd's NumPy centroids on the same rows by the
    grid discipline, so a LAZY oracle can embed the twin's centroids
    and reproduce any downstream computation exactly. Cached per
    training config — in process and on disk (see _CODEBOOK_CACHE).

    sample_frac: train on a deterministic xxhash64(vec_id) subsample
    instead of every row; assignment of the FULL table to the
    returned centroids is unchanged. None = train on everything."""
    import os

    ck = (os.path.abspath(sf_dir), k, iterations,
          "full" if sample_frac is None else repr(float(sample_frac)),
          _embeddings_content_key(sf_dir))
    cached = _CODEBOOK_CACHE.get(ck)
    if cached is not None:
        return [list(c) for c in cached]
    disk_path = _codebook_disk_path(ck)
    loaded = _codebook_disk_load(disk_path, ck)
    if loaded is not None:
        _CODEBOOK_CACHE[ck] = [list(c) for c in loaded]
        return loaded
    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    # NULL embeddings carry no training signal and would crash the
    # seed collect / silently vanish from the grid sums (the PQ/IVF
    # NULL-symmetry class); the twin filters identically
    emb = emb.where(F.col("embedding").isNotNull())
    if sample_frac is not None:
        emb = emb.where(
            F.pmod(F.xxhash64("vec_id"), F.lit(_SAMPLE_MOD))
            < int(round(float(sample_frac) * _SAMPLE_MOD)))
    init = emb.orderBy("vec_id").limit(k).collect()
    if len(init) < k:
        raise ValueError(
            f"kmeans: need >= {k} training vectors, sample has "
            f"{len(init)} (sample_frac={sample_frac})")
    centroids = [[float(x) for x in r.embedding] for r in init]

    dim = len(centroids[0])
    grid_sums = [
        f"sum(cast(round(cast(element_at(embedding, {i + 1}) as double)"
        f" * 1e12) as bigint)) as s{i}"
        for i in range(dim)
    ]
    for _ in range(iterations):
        assigned = _assign(emb, centroids)
        sums = assigned.groupBy("cluster").agg(
            F.count("*").alias("n"),
            *[F.expr(e) for e in grid_sums],
        )
        rows = {r["cluster"]: r for r in sums.collect()}
        # ^ k rows of longs — the bounded per-iteration driver traffic
        centroids = _update(centroids, rows, k, dim)
    _CODEBOOK_CACHE[ck] = [list(c) for c in centroids]
    _codebook_disk_store(disk_path, ck, centroids)
    return centroids


def kmeans_fit(spark: SparkSession, sf_dir: str,
               k: int = K, iterations: int = ITERATIONS) -> DataFrame:
    """Run fixed-iteration Lloyd's; returns (cluster, size,
    centroid_norm) — norm rounded to 6dp for stable comparison."""
    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    # NULL embeddings are excluded symmetrically with the oracle's
    # d IS NOT NULL assignment guard: _assign would
    # null-propagate them into a cluster-NULL group the oracle
    # cannot derive
    emb = emb.where(F.col("embedding").isNotNull())
    centroids = kmeans_centroids(spark, sf_dir, k, iterations)
    final = _assign(emb, centroids)
    import numpy as np

    # numpy pairwise sum, the IDENTICAL IEEE sequence the oracle's
    # (C[ci] ** 2).sum() runs — a Python left-fold can differ by an
    # ulp and flip the 6dp round at a midpoint
    norms = [
        (ci, round(float((np.asarray(c, dtype=np.float64) ** 2)
                         .sum() ** 0.5), 6))
        for ci, c in enumerate(centroids)
    ]
    norm_map = F.create_map(
        *[F.lit(x) for pair in norms for x in pair])
    return final.groupBy("cluster").agg(
        F.count("*").alias("size"),
    ).withColumn("centroid_norm", F.element_at(norm_map, F.col("cluster")))


#: Row bound of the training sample both ANN codebooks share: the
#: trained-IVF coarse quantizer (8 cells x 256 vectors per centroid,
#: the FAISS rule of thumb) and the PQ sub-codebooks
#: (similarity._pq_codebooks). A constant, so training holds
#: O(TRAIN_CAP * dim) floats on the driver at any corpus size.
TRAIN_CAP = 2048


def embedding_sample(sf_dir: str, cap: int | None,
                     sample_frac: float | None = None) -> np.ndarray:
    """(n, dim) float64: the non-NULL embeddings of the lowest `cap`
    vec_ids (None = every id) among those the optional
    pmod(xxhash64(vec_id)) sample_frac mask keeps, in vec_id order.

    Spark-free, and the one reader of training input: the PQ and IVF
    codebooks train on it, and the NumPy twin reads the whole table
    through it. Pass 1 reads only the vec_id column (8 bytes/row) and
    picks the `cap` lowest ids; pass 2 reads embeddings through a
    vec_id range pushed into the parquet scan, so ~`cap` embedding
    rows are materialized. A NULL embedding carries no training
    signal (the Spark loop drops it too) and is dropped before the
    cap: each NULL in the range costs one more, smaller, range pass.
    float32 widens exactly like Spark's row collector."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mapreduce_go_spark.functions.xxhash import sample_mask

    path = os.path.join(sf_dir, "embeddings.parquet")
    ids = np.sort(pq.read_table(path, columns=["vec_id"])
                  .column("vec_id").to_numpy(), kind="stable")
    if sample_frac is not None:
        ids = ids[np.asarray(sample_mask(ids, sample_frac, _SAMPLE_MOD),
                             dtype=bool)]
    want = len(ids) if cap is None else cap
    parts, n, lo = [], 0, 0
    while n < want and lo < len(ids):
        hi = min(lo + want - n, len(ids))
        t = pq.read_table(path, columns=["vec_id", "embedding"],
                          filters=[("vec_id", ">=", int(ids[lo])),
                                   ("vec_id", "<=", int(ids[hi - 1]))])
        t = t.filter(pc.and_(
            pc.is_in(t["vec_id"], value_set=pa.array(ids[lo:hi])),
            pc.is_valid(t["embedding"])))
        parts.append(t)
        n += t.num_rows
        lo = hi
    if not parts:
        return np.empty((0, 0), dtype=np.float64)
    t = pa.concat_tables(parts)
    order = np.argsort(t.column("vec_id").to_numpy(), kind="stable")
    return np.asarray(
        t.take(order[:want]).column("embedding").to_pylist(),
        dtype=np.float64)


def _grid_assign(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid by the exact int64 grid
    distance; numpy's first argmin is the struct/ORDER BY (d, i)
    tie-break of the Spark and DuckDB sides."""
    from mapreduce_go_spark.functions.simd import _grid_sum

    d = _grid_sum(((X[:, None, :] - C[None, :, :]) ** 2) * _SCALE,
                  axis=-1)
    return d.argmin(1)


def _lloyd(X: np.ndarray, k: int, iterations: int) -> np.ndarray:
    """Fixed-iteration Lloyd's on the rows of X (vec_id order): the
    same init (first k rows), grid distances (simd._grid, bit-identical
    rounding to Spark round() and DuckDB round()), int64 grid sums
    (associative, so partial vs single-level totals agree) and float64
    updates as kmeans_centroids' Spark loop, so both return
    bit-identical (k, dim) centroids on the same rows. An empty
    cluster keeps its centroid."""
    from mapreduce_go_spark.functions.simd import _grid

    if X.shape[0] < k:
        raise ValueError(
            f"kmeans: need >= {k} training vectors, sample has "
            f"{X.shape[0]}")
    C = X[:k].copy()
    XG = _grid(X * _SCALE)  # per-element grid image, summed per cluster
    # group-sum overflow guard (the _grid_sum bound, checked once for
    # the worst case — every row in one cluster): int64 .sum() wraps
    # silently past 2^63 while the Spark side (ANSI sum(bigint)) and
    # the DuckDB side (hugeint) would not
    _mx = int(np.max(np.abs(XG))) if XG.size else 0
    if _mx and XG.shape[0] > np.iinfo(np.int64).max // _mx:
        raise ValueError(
            f"kmeans grid sums may overflow int64 (n={XG.shape[0]}, "
            f"max|grid|={_mx}): rescale _SCALE")
    for _ in range(iterations):
        a = _grid_assign(X, C)
        for ci in range(k):
            m = a == ci
            if m.any():
                C[ci] = XG[m].sum(0) / _SCALE / int(m.sum())
    return C


def ivf_codebook(sf_dir: str, k: int,
                 sample_frac: float | None = None) -> np.ndarray:
    """The trained-IVF coarse quantizer: (k, dim) read-only centroids
    from ITERATIONS Lloyd's rounds on embedding_sample(TRAIN_CAP) —
    Spark-free, so building an IVF query runs no training job, and the
    query and its DuckDB oracle inline one codebook. Memoized per
    process on the embeddings content key, like the PQ codebooks.
    Equal to kmeans_centroids(k, sample_frac) whenever the sample
    holds every non-NULL row, as at every fixture scale."""
    return _ivf_codebook_cached(sf_dir, k, sample_frac,
                                _embeddings_content_key(sf_dir))


@lru_cache(maxsize=8)
def _ivf_codebook_cached(sf_dir: str, k: int, sample_frac: float | None,
                         _content_key: str) -> np.ndarray:
    C = _lloyd(embedding_sample(sf_dir, TRAIN_CAP, sample_frac), k,
               ITERATIONS)
    C.setflags(write=False)  # shared by every caller
    return C


def _kmeans_twin(sf_dir: str, k: int = K, iterations: int = ITERATIONS):
    """Spark-free NumPy twin of kmeans_fit over the whole table:
    (centroids, sizes) after `iterations` _lloyd rounds + the final
    assignment. Reads every non-NULL row — it builds the ORACLE
    (DuckDB reads every row too), it is not a production path."""
    X = embedding_sample(sf_dir, None)
    C = _lloyd(X, k, iterations)
    counts = np.bincount(_grid_assign(X, C), minlength=k)
    return C, {ci: int(n) for ci, n in enumerate(counts) if n}


def _kmeans_oracle_lazy() -> str | None:
    """LAZY oracle (registry.LAZY_ORACLES contract): the twin's final
    centroids become SQL literals; DuckDB re-derives the assignment
    with the same grid distance and aggregates sizes. Built at
    oracle-collection time from TEST_SF_DIR; any failure degrades
    kmeans_clusters back to the rows-only check."""
    sf_dir = tables.oracle_sf_dir()
    try:
        C, sizes = _kmeans_twin(sf_dir)
    except Exception:
        return None
    k, dim = C.shape
    cb = ", ".join(
        f"({ci}, {j + 1}, {float(C[ci, j])!r})"
        for ci in range(k) for j in range(dim)
    )
    norms = ", ".join(
        f"({ci}, {round(float((C[ci] ** 2).sum() ** 0.5), 6)!r})"
        for ci in range(k)
    )
    return f"""
    WITH cb(i, j, c) AS (VALUES {cb}),
    norms(i, centroid_norm) AS (VALUES {norms}),
    elems AS (
        SELECT vec_id, g.j AS j, cast(embedding[g.j] AS double) AS x
        FROM embeddings CROSS JOIN generate_series(1, {dim}) g(j)
    ),
    dists AS (
        SELECT e.vec_id, cb.i,
               sum(cast(round((e.x - cb.c) * (e.x - cb.c) * 1e12)
                        AS bigint)) AS d
        FROM elems e JOIN cb ON cb.j = e.j
        GROUP BY 1, 2
    ),
    assign AS (
        SELECT vec_id, i FROM (
            SELECT vec_id, i,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, i) AS rn
            FROM dists WHERE d IS NOT NULL)
        WHERE rn = 1
    )
    SELECT a.i AS cluster, count(*) AS size,
           any_value(cast(n.centroid_norm AS double)) AS centroid_norm
    FROM assign a JOIN norms n ON n.i = a.i
    GROUP BY a.i
    """


QUERIES = {"kmeans_clusters": kmeans_fit}
ORACLES: dict[str, str] = {}
LAZY_ORACLES = {"kmeans_clusters": _kmeans_oracle_lazy}
