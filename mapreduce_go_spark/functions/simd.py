"""Vectorized (Arrow/numpy) twins of the scaled-long-grid vector
kernels in operators/similarity.py.

The interpreted-lambda forms (`F.zip_with` + `F.aggregate`) evaluate
one expression-tree node per array element per row — correct, but the
dominant cost of every similarity query (higher-order functions never
enter whole-stage codegen). These pandas UDFs compute the SAME numbers
in one Arrow batch per task: the per-element grid products are rounded
with numpy and summed as exact int64.

Cross-engine parity proof (why numpy rounding is safe here):
Spark `F.round(double)` goes through BigDecimal HALF_UP on the
double's shortest decimal representation; DuckDB `round(double)` and
numpy-`copysign(floor(|p|+0.5), p)` round the exact binary value half
away from zero. These three agree for every |p| < 2^51:

- every half-integer k+0.5 with |k| < 2^51 is exactly representable
  as a double (spacing <= 0.5 there), so a double's shortest decimal
  representation is of the form "k.5" iff the double IS exactly
  k+0.5 — the only inputs where HALF_UP vs binary-value rounding
  could differ collapse to the same value, where both round away
  from zero;
- `|p| + 0.5` is exact for |p| < 2^51 (same spacing argument), so
  `floor(|p| + 0.5)` implements half-away-from-zero without an
  intermediate rounding error.

Our grid products are |x*y*1e12| <~ 1e12 << 2^51 for unit-ish
embeddings (guarded by a runtime assert), the int64 sums are <= 64 *
1e12 ~ 6.4e13 < 2^53, so the final long->double division is exact in
all three engines. tests/test_simd.py additionally pins equality
against the interpreted forms on the real fixtures and on adversarial
half-boundary values.

100 TB shape: one narrow Arrow-batched pass per vector (signatures,
norms) or per candidate pair (dot products); BLAS-free integer
matmul for the LSH signature bits, O(dim * n_planes) per row with no
shuffle. The UDFs are stateless and deterministic, so speculative
re-execution is safe.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StringType, StructField,
    StructType,
)

_SCALE = 1e12
# |product * _SCALE| must stay below 2^51 for the rounding-parity
# proof in the module docstring to hold.
_GRID_LIMIT = float(2**51)


def _grid(p: np.ndarray) -> np.ndarray:
    """Half-away-from-zero rounding of p to int64 — bit-identical to
    Spark F.round(double) and DuckDB round(double) for |p| < 2^51.
    Callers must pre-filter non-finite values (NaN poisons the limit
    check AND the int64 cast); see _valid_rows."""
    if p.size and np.max(np.abs(p)) >= _GRID_LIMIT:
        raise ValueError(
            "grid product exceeds 2^51: rounding parity proof no "
            "longer applies; rescale the inputs")
    return np.copysign(np.floor(np.abs(p) + 0.5), p).astype(np.int64)


def _grid_sum(p: np.ndarray, axis=None):
    """_grid followed by an EXACT sum: numpy int64 .sum() wraps
    silently, and _grid's per-element 2^51 bound does not protect the
    total — n elements of magnitude up to 2^51 overflow a 2^63
    accumulator at n ~ 4096. When n_summed * max|grid| could reach
    2^63 the flat sum escalates to CHUNKED big-int accumulation
    (int64 partials over provably-safe chunks, folded in Python's
    arbitrary-precision int) — exact at ANY group size, matching the
    DuckDB oracles' hugeint sums. This guard FIRED for real: at sf0.1
    the z-score kernels see n ~ 20k rows/group with |grid| ~ 5.6e14,
    whose flat int64 sum would silently wrap. The axis (vector) form
    keeps the raise — its callers (k-means twin) own the rescale.

    Returns a Python int in the escalated scalar path; callers only
    divide by floats, and Python int -> float conversion is correctly
    rounded, same as DuckDB's hugeint -> double."""
    g = _grid(p)
    if g.size:
        n = g.size if axis is None else g.shape[axis]
        m = int(np.max(np.abs(g)))
        if m and n > np.iinfo(np.int64).max // m:
            if axis is not None:
                raise ValueError(
                    "int64 group sum may overflow "
                    f"(n={n}, max|grid|={m}): rescale the grid or "
                    "split the group; the parity proof requires "
                    "exact sums")
            chunk = max(1, np.iinfo(np.int64).max // m // 2)
            flat = g.ravel()
            return sum(
                int(flat[i:i + chunk].sum())
                for i in range(0, flat.size, chunk))
    return g.sum(axis=axis)


def _stack(s: pd.Series) -> np.ndarray:
    """(n, dim) float64 matrix from a Series of list<float> values.
    float32 -> float64 widening is exact, matching x.cast('double').
    Caller guarantees no None entries (see _valid_rows) and n >= 1."""
    return np.vstack([np.asarray(v, dtype=np.float64) for v in s])


def _valid_rows(*series: pd.Series) -> np.ndarray:
    """Boolean mask of non-NULL rows across the input columns, with
    the same contract as the interpreted higher-order forms these
    kernels replace (differentially tested): a NULL array yields a
    NULL result. Vectorized (Series.isna, no per-row Python loop —
    the loop form cost knn_cosine_topk ~0.3 s at sf0.1). Non-finite
    ELEMENTS are caught after stacking by _check_finite."""
    mask = np.ones(len(series[0]), dtype=bool)
    for s in series:
        mask &= ~s.isna().to_numpy(dtype=bool)
    return mask


def _check_finite(m: np.ndarray) -> np.ndarray:
    """Reject NaN/Inf in one vectorized pass over the stacked matrix —
    Spark 4 runs ANSI mode, so the interpreted round(NaN).cast('long')
    fails the query too; silently gridding NaN would instead emit
    int64 garbage (copysign/floor of NaN casts to INT64_MIN)."""
    if not np.all(np.isfinite(m)):
        raise ValueError(
            "non-finite embedding element: the grid kernels (like "
            "ANSI round/cast) reject NaN/Inf; clean the input "
            "column first")
    return m


def _null_propagate(e: pd.Series, dense, fast_dtype: str | None = None
                    ) -> pd.Series:
    """Shared NULL-in -> NULL-out scaffolding for the single-column
    Arrow kernels (the make_centroid_assign contract, ADVICE r11 —
    the r15 review found the mask/fill dance copy-pasted per kernel).
    `dense` maps a Series of non-NULL array values to an ndarray of
    results: (n,) scalars (pass fast_dtype for the all-valid fast
    path — an object Series forces per-element Arrow conversion, the
    grid_dot lesson) or (n, m) arrays (emitted as an object Series of
    rows)."""
    if not len(e):
        return pd.Series([], dtype=fast_dtype or object)
    mask = _valid_rows(e)
    if mask.all():
        vals = dense(e)
        return (pd.Series(vals) if vals.ndim == 1
                else pd.Series(list(vals)))
    out = np.full(len(e), None, dtype=object)
    if mask.any():
        vals = dense(e[mask])
        if vals.ndim > 1:
            rows = np.empty(len(vals), dtype=object)
            rows[:] = list(vals)
            vals = rows
        out[mask] = vals
    return pd.Series(out, dtype=object)


@pandas_udf(DoubleType())
def grid_dot(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized twin of similarity._dot_dec: exact dot product on
    the 1e-12 integer grid, summed as int64, returned as double.
    NULL embeddings yield NULL; non-finite ELEMENTS raise ValueError
    (_check_finite), matching ANSI-mode Spark where the interpreted
    round(NaN).cast('long') fails the query too (differentially
    tested in tests/test_simd.py)."""
    if not len(a):
        return pd.Series([], dtype=object)
    mask = _valid_rows(a, b)
    if mask.all():
        # fast path: float64 out (an object Series forces per-element
        # Arrow conversion — measured ~0.25 s on knn at sf0.1).
        # _grid_sum, not raw .sum(): the per-element 2^51 bound does
        # NOT protect the row total, and a silent int64 wrap is the
        # exact divergence-from-ANSI the module bans (r14 review —
        # the axis form raises loudly like the interpreted twin).
        A, B = _stack(a), _stack(b)
        total = _grid_sum(_check_finite(A * B * _SCALE), axis=1)
        return pd.Series(total / _SCALE)
    out = np.full(len(a), None, dtype=object)
    if mask.any():
        A, B = _stack(a[mask]), _stack(b[mask])
        total = _grid_sum(_check_finite(A * B * _SCALE), axis=1)
        out[mask] = total / _SCALE
    return pd.Series(out, dtype=object)


def make_band_keys(planes: list[list[int]], bits: int,
                   bands: int):
    """Factory for a pandas UDF computing ALL sign-random-projection
    band keys of an embedding in one integer matmul.

    Exactness: the hyperplane entries are +-1, and round(x * (+-1) *
    1e12) == +-round(x * 1e12) in every engine (half-away and HALF_UP
    are both odd functions), so bit j = sign(sum_i h_ij *
    round(x_i * 1e12)) computed with an exact int64 matmul equals the
    interpreted per-plane grid dot sign.
    """
    H = np.asarray(planes, dtype=np.int64)          # (bands*bits, dim)
    if H.shape[0] != bands * bits:
        # raise, not assert: python -O strips asserts on workers and
        # the shape contract must hold there too (r14 review)
        raise ValueError(
            f"make_band_keys: {H.shape[0]} planes != "
            f"bands*bits = {bands * bits}")

    @pandas_udf(ArrayType(StringType()))
    def band_keys(emb: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series([], dtype=object)
        mask = _valid_rows(emb)
        out = np.full(len(emb), None, dtype=object)
        if mask.any():
            G = _grid(_check_finite(
                _stack(emb[mask]) * _SCALE))        # (m, dim) int64
            # loud overflow guard for the matmul total (the _grid_sum
            # discipline): +-1 plane entries make each output a sum
            # of dim grid values (r14 review)
            m_abs = int(np.max(np.abs(G))) if G.size else 0
            if m_abs and G.shape[1] > np.iinfo(np.int64).max // m_abs:
                raise ValueError(
                    "band-key matmul may overflow int64: rescale the "
                    "embedding grid or reduce dim")
            S = G @ H.T                             # exact int64
            bit = S > 0                             # (m, bands*bits)
            keys = [
                ["".join("1" if row[band * bits + b] else "0"
                         for b in range(bits))
                 for band in range(bands)]
                for row in bit
            ]
            # element-wise (numpy would coerce the nested lists into a
            # 2-D array and fail the masked assignment)
            for j, i in enumerate(np.nonzero(mask)[0]):
                out[i] = keys[j]
        return pd.Series(out, dtype=object)

    return band_keys


def grid_norm(col: Column) -> Column:
    """sqrt of the grid self-dot — IEEE sqrt is exact-input-exact-
    output deterministic in Spark, DuckDB and numpy alike."""
    return F.sqrt(grid_dot(col, col))


def make_centroid_assign(centroids: list[list[float]]):
    """Factory for a pandas UDF assigning each embedding to its
    nearest centroid by the exact 1e-12 grid distance — the
    vectorized twin of kmeans._dist_array_sql's interpreted
    aggregate(zip_with(...)) argmin (k x dim expression-tree walks
    PER ROW; at k=8, dim=64 that is 512 interpreted element-ops per
    vector — the dominant cost of the trained-IVF serving scan at
    10x, measured r11).

    Exactness: identical arithmetic to kmeans._grid_assign —
    per-element _grid((x-c)^2 * 1e12) summed as exact int64
    (_grid_sum's overflow guard raises rather than wrapping), numpy
    first-argmin == the SQL struct-order (d, i) tie-break == the
    oracle's ORDER BY d, i. tests/test_simd.py pins equality against
    the interpreted form on the real fixtures."""
    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)

    @pandas_udf(IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        # NULL embedding -> NULL cluster via the shared scaffolding
        # (_null_propagate) — a NULL used to reach _stack and crash
        # the task (ADVICE r11)
        def dense(ev: pd.Series) -> np.ndarray:
            X = _check_finite(_stack(ev))        # (n, dim)
            D = _grid_sum(
                ((X[:, None, :] - C[None, :, :]) ** 2) * _SCALE,
                axis=-1)                         # (n, k) exact int64
            return D.argmin(1).astype("int32")

        return _null_propagate(emb, dense, fast_dtype="int32")

    return assign


def make_rolling_hash(base: int, mod: int, chunk: int = 1024):
    """Factory for a pandas UDF computing the per-character polynomial
    rolling hash acc = (acc * base + codepoint) % mod — the
    textstats.doc_fingerprint fold — without the interpreted
    per-element lambda (one expression-tree walk PER CHARACTER in the
    F.aggregate form; the dominant cost of that query).

    Vectorization: Horner in chunks. For a chunk c[0..m) with
    precomputed powers P[j] = base^j % mod,
        acc' = (acc * (base^m % mod) + dot(c, P[m-1..0])) % mod
    — all integer arithmetic, so the result is EXACTLY the
    sequential fold (tests/test_simd.py pins equality against the
    interpreted form, including empty and non-ASCII strings).

    Character semantics: Unicode CODEPOINTS (utf-32-le encode), which
    is exactly what both oracles see — Spark's F.split(text, '')
    yields one element per codepoint (it does NOT split surrogate
    pairs; verified empirically) and ascii() returns the full
    codepoint, and DuckDB's regexp_split_to_array(text, '') + ascii()
    do the same — so kernel, interpreted form and SQL oracle agree on
    EVERY string including astral-plane characters
    (tests/test_simd.py pins an emoji case against both).

    int64 bounds: codepoints < 0x110000 (~2^20.1), P[j] < mod < 2^31
    -> per-element products < ~2.4e15 (2^51.1); a 1024-element chunk
    dot < ~2.5e18 (2^61.1); acc * base^m < (mod-1)^2 ~ 4.6e18 (2^62);
    their sum < ~7.1e18 < 2^63 - 1. Exact at any document length.

    NULL input -> NULL, matching the interpreted form.
    """
    # factory-time bound check (r14 review): the int64-exactness
    # proof needs max_codepoint * (mod-1) * chunk < 2^63 — a larger
    # modulus (e.g. the 61-bit Mersenne prime) or a bigger chunk
    # would make the chunk dot wrap silently and return wrong hashes
    if 0x10FFFF * (mod - 1) * chunk >= (1 << 63):
        raise ValueError(
            f"make_rolling_hash: mod={mod} chunk={chunk} break the "
            "int64 chunk-dot bound (codepoint * (mod-1) * chunk must "
            "stay below 2^63); shrink chunk or mod")
    powers = np.empty(chunk, dtype=np.int64)
    powers[0] = 1
    for j in range(1, chunk):
        powers[j] = (powers[j - 1] * base) % mod
    base_chunk = (int(powers[chunk - 1]) * base) % mod  # base^chunk

    @pandas_udf("long")
    def roll(texts: pd.Series) -> pd.Series:
        out = np.full(len(texts), None, dtype=object)
        for i, t in enumerate(texts):
            if t is None:
                continue
            codes = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            acc = 0
            for s in range(0, len(codes), chunk):
                c = codes[s:s + chunk]
                m = len(c)
                step = base_chunk if m == chunk else int(powers[m - 1]) * base % mod
                acc = (acc * step + int(c @ powers[m - 1::-1])) % mod
            out[i] = acc
        return pd.Series(out, dtype=object)

    return roll


_REP_COUNTS_SCHEMA = StructType([
    StructField("top_tok", IntegerType()),
    StructField("top_g2", IntegerType()),
    StructField("n3", IntegerType()),
    StructField("d3", IntegerType()),
])


@pandas_udf(_REP_COUNTS_SCHEMA)
def rep_counts(ts: pd.Series) -> pd.DataFrame:
    """Vectorized repetition counts over token arrays, one Arrow batch
    per task: max token multiplicity (top_tok), max word-2-gram
    multiplicity (top_g2), and the 3-gram total/distinct counts
    (n3/d3). Twin of the interpreted operators/quality.py forms
    (_top_frac / _dup_frac numerators), which evaluate one
    expression-tree node per (element x distinct-element) pair — the
    nested-lambda trap measured at 28.6 s for repetition_stats at
    sf0.1; this kernel computes identical integers in ~1 s.

    Exactness: counts are integers — no float path, so cross-engine
    parity is trivial (the ratios are formed JVM-side from these
    integers exactly like the DuckDB oracle's int/int division).

    Vectorization: the whole batch is factorized at once — tokens to
    compact codes via np.unique(return_inverse); 2-gram/3-gram codes
    built HIERARCHICALLY (pair the previous level's compact codes,
    re-factorize) so every intermediate key stays <= T^2 where T is
    the batch token count (T ~ 1e7 -> keys ~ 1e14, far inside int64;
    a defensive guard raises if a pathological batch nears 2^62).
    Per-row maxima/distincts come from np.maximum.at / np.add.at over
    (row, code) keys — no per-row Python loop, no per-element work.
    n-grams never cross row boundaries (adjacency masks).

    NULL token arrays are a caller bug (split() of a non-null string
    is never null) and raise ValueError, matching the
    clean-input-first discipline of _check_finite."""
    n = len(ts)
    zeros = lambda: np.zeros(n, dtype=np.int64)  # noqa: E731
    out_cols = {"top_tok": zeros(), "top_g2": zeros(),
                "n3": zeros(), "d3": zeros()}
    if n:
        if ts.isna().any():
            raise ValueError(
                "NULL token array: rep_counts expects the JVM-side "
                "split/filter to feed non-null arrays; filter null "
                "text rows first")
        lens = np.fromiter((len(a) for a in ts), dtype=np.int64, count=n)
        if int(lens.sum()) > 0:
            _rep_counts_batch(ts, lens, out_cols)
    return pd.DataFrame(
        {k: v.astype(np.int32) for k, v in out_cols.items()})


def _per_row_stats(codes: np.ndarray, crows: np.ndarray, n: int,
                   with_totals: bool = True):
    """(max multiplicity, total, distinct) per row for compact
    non-negative gram codes with their row ids. with_totals=False
    skips the total/distinct scatters — np.add.at is unbuffered and
    among the slowest numpy ops, and two of the three call sites use
    only the max (r14 review: two wasted passes over every token and
    2-gram per batch in a kernel that exists for speed)."""
    mx, tot, dist = (np.zeros(n, dtype=np.int64) for _ in range(3))
    if len(codes):
        G = np.int64(int(codes.max()) + 1)
        if int(crows.max()) * int(G) >= (1 << 62):
            raise ValueError("batch too large for int64 row-gram keys")
        ukeys, counts = np.unique(crows * G + codes, return_counts=True)
        urows = (ukeys // G).astype(np.int64)
        np.maximum.at(mx, urows, counts)
        if with_totals:
            np.add.at(dist, urows, 1)
            np.add.at(tot, crows, 1)
    return mx, tot, dist


def _rep_counts_batch(ts: pd.Series, lens: np.ndarray, out: dict) -> None:
    n = len(ts)
    rows = np.repeat(np.arange(n, dtype=np.int64), lens)
    flat = np.concatenate(
        [np.asarray(a, dtype=object) for a in ts if len(a)])
    uniq, inv1 = np.unique(flat, return_inverse=True)
    inv1 = inv1.astype(np.int64)

    out["top_tok"][:] = _per_row_stats(inv1, rows, n,
                                       with_totals=False)[0]

    if len(inv1) < 2:
        return
    m1 = np.int64(len(uniq) + 1)
    raw2 = inv1[:-1] * m1 + inv1[1:]          # <= T^2, row-agnostic
    u2, inv2 = np.unique(raw2, return_inverse=True)
    inv2 = inv2.astype(np.int64)
    same2 = rows[:-1] == rows[1:]
    out["top_g2"][:] = _per_row_stats(
        inv2[same2], rows[:-1][same2], n, with_totals=False)[0]

    if len(inv1) < 3:
        return
    m2 = np.int64(len(u2) + 1)
    raw3 = inv2[:-1] * m1 + inv1[2:]          # pair-code x next token
    if int(m2) * int(m1) >= (1 << 62):
        # raise, not assert: stripped under python -O, and a wrapped
        # key silently merges distinct 3-grams (r14 review)
        raise ValueError("batch too large for int64 3-gram keys")
    same3 = same2[:-1] & (rows[1:-1] == rows[2:])
    u3, inv3 = np.unique(raw3, return_inverse=True)
    _, n3, d3 = _per_row_stats(
        inv3[same3].astype(np.int64), rows[:-2][same3], n)
    out["n3"][:] = n3
    out["d3"][:] = d3
