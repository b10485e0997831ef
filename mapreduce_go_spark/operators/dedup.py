"""Deduplication operators (SURVEY §2.4 D17, north-star mandate):
exact, n-gram Jaccard, MinHash-LSH, SimHash, content-defined
chunking (sub-document dedup), winnowing fingerprints (MOSS).

Design for 100 TB:
- exact dedup: hash-groupBy on a 128-bit fingerprint — shuffle carries
  (16-byte hash, doc_id) only, never the text.
- n-gram Jaccard is the EXACT verifier: cost is bounded by pairs
  sharing a shingle. At corpus scale it runs AFTER candidate
  generation (MinHash bands), not standalone; standalone here because
  the fixture corpus is small and it doubles as the LSH recall oracle.
- MinHash/LSH: all hashing is md5-based and engine-portable, so even
  the LSH pipeline is differentially tested against a DuckDB
  re-implementation — no "trust me" randomness. One md5 per shingle,
  split into two 56-bit halves (a, b); permutation i is
  h_i = min over shingles of (a + i*b) mod 2^56 (affine family).
- SimHash: 64-bit signature from per-token md5 bits weighted by term
  frequency, emitted as a 64-char '0/1' string; bit extraction is
  portable nibble arithmetic (no engine-specific bit ops).

The reference's only dedup primitive is the indexer's per-doc token
set (/root/reference/mrapps/indexer.go:21-26); everything here
generalizes that "build a set, collapse duplicates" move.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.functions.num import dround, dround_sql
from mapreduce_go_spark.functions.text import (FP_WS_SQL, NON_LETTER_RE,
                                               fingerprint, token_rows)

N_MINHASH = 12          # permutations
LSH_BANDS = 4           # bands -> candidate if all rows in any band agree
LSH_ROWS = N_MINHASH // LSH_BANDS
JACCARD_THRESHOLD = 0.5
# Rational twin of the threshold for the PPJoin cut-offs: the double
# product ceil(t * n) can round one ULP above an exact integer for a
# non-dyadic t (e.g. 0.55), silently shortening the prefix and
# voiding the zero-recall-loss lemma. All prefix/length/positional
# arithmetic uses int64 (N*n + D-1) div D instead, which is exact for
# every rational threshold.
JACCARD_T_NUM, JACCARD_T_DEN = 1, 2
assert JACCARD_T_NUM / JACCARD_T_DEN == JACCARD_THRESHOLD
SHINGLE_N = 3
MINHASH_MOD = 2 ** 56   # affine-family modulus; a,b < 2^56 so
                        # a + 11*b < 2^60 — no bigint overflow

# bit j of a 32-hex-char md5 string, as portable SQL arithmetic
# (identical text runs in Spark SQL and DuckDB): nibble value via
# instr on the hex alphabet, bit via floor-div + mod.
_BIT_SQL = ("cast(floor((instr('0123456789abcdef',"
            " substring({h}, cast(floor({j} / 4.0) AS int) + 1, 1)) - 1)"
            " / pow(2, 3 - ({j} % 4))) AS int) % 2")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: md5 fingerprint of normalized text ->
    group size + keeper (min doc_id). The fixture corpus has no exact
    dups (500 singleton groups) — the operator shape is the point."""
    docs = tables.load(spark, sf_dir, "documents")
    return (
        docs.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
    )


def _shingles_all(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): word-3-gram shingles WITH multiplicity.

    slice + arrays_zip + explode — all plain codegen expressions, no
    lambdas (higher-order functions run interpreted, measured ~3x
    slower) and, unlike the earlier lead()-window formulation, NO
    shuffle: the n-gram is assembled inside the row before exploding,
    so at 100 TB the token stream never hits an exchange. Edge-empty
    tokens are avoided by trimming leading/trailing non-letters before
    the split (interior empties can't occur — the split regex
    collapses separator runs)."""
    ts = F.split(
        F.regexp_replace(F.col("text"), "^[^a-zA-Z]+|[^a-zA-Z]+$", ""),
        NON_LETTER_RE,
    )
    n = F.greatest(F.size(ts) - (SHINGLE_N - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(ts, i + 1, n) for i in range(SHINGLE_N)])
    # coarse scans (one fixture file = one split) would run this whole
    # map side single-task — see tables.spread (no-op on real layouts)
    docs = tables.spread(docs)
    return docs.select("doc_id", F.explode(z).alias("z")).select(
        "doc_id",
        F.concat_ws(
            " ", *[F.col(f"z.{i}") for i in range(SHINGLE_N)]
        ).alias("shingle"),
    )


def _shingles(docs: DataFrame) -> DataFrame:
    """Distinct shingles (the set view, for Jaccard)."""
    return _shingles_all(docs).distinct()


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, ss, n_sh): each document's SORTED distinct shingle
    array plus its size — the single-relation base the multi-consumer
    dedup queries derive everything from (guide §2.3/§2.4):
    `sort_array(collect_set(...))` dedupes while it
    groups, so the separate `.distinct()` exchange disappears; the
    per-doc size rides the row for free (no second groupBy over the
    shingle stream); and re-deriving the (doc_id, shingle) stream is
    one in-row explode instead of a fresh corpus scan + tokenize.
    A query that consumes the shingle stream K times re-paid the
    whole scan+explode+distinct lineage K times under the old shape
    (ngram_jaccard_pairs_prefix: 7 lineages, 16 parquet scans)."""
    return _shingles_all(docs).groupBy("doc_id").agg(
        F.sort_array(F.collect_set("shingle")).alias("ss"),
    ).withColumn("n_sh", F.size("ss"))


# DuckDB twin of _shingles, shared by several oracles.
_SHINGLES_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '{NON_LETTER_RE}'),
                           x -> x <> '') AS ts
        FROM documents
    ),
    starts AS (
        SELECT doc_id, ts,
               unnest(generate_series(1, len(ts) - {SHINGLE_N - 1})) AS i
        FROM toks
    ),
    shingles_all AS (
        SELECT doc_id,
               array_to_string(ts[i:i+{SHINGLE_N - 1}], ' ') AS shingle
        FROM starts
    ),
    shingles AS (SELECT DISTINCT doc_id, shingle FROM shingles_all)
"""


def _exact_jaccard_tail(inter: DataFrame, sizes: DataFrame) -> DataFrame:
    """Shared verify tail over a (d1, d2, inter) relation + per-doc
    set sizes: the dround'ed jaccard column and the EXACT rational
    threshold D*inter >= N*(union) in int64 — NOT the rounded double
    (a rounding-promoted J in [t - 5e-7, t) passed the dround >= t
    test but is outside the PPJoin filter lemmas, so the plain and
    prefix forms could diverge on such a pair). One copy:
    ngram_jaccard_pairs and dedup_verified_pairs (the production
    path) both run it, so a jaccard/threshold change lands once.

    No broadcast hint on sizes: one row PER DOCUMENT — corpus-sized,
    a forced broadcast would OOM the driver at the very scale this is
    the production path for; AQE broadcasts while it fits."""
    sa = sizes.select(F.col("doc_id").alias("d1"),
                      F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("d2"),
                      F.col("n_sh").alias("nb"))
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .withColumn("jaccard", dround(F.col("inter") / union, 6))
        .where(F.lit(JACCARD_T_DEN) * F.col("inter")
               >= F.lit(JACCARD_T_NUM) * union)
        .select("d1", "d2", "jaccard")
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: word-3-gram Jaccard >= 0.5, d1 < d2.

    Plan: shingle inverted index -> self-equi-join on shingle
    (intersection counts) -> per-doc set sizes join (AQE picks the
    strategy) -> algebraic Jaccard. Shuffle keys are shingle strings
    and doc-id pairs."""
    docs = tables.load(spark, sf_dir, "documents")
    sh = _shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("inter"))
    )
    return _exact_jaccard_tail(inter, sizes)


def _ppjoin_candidates(sets: DataFrame) -> DataFrame:
    """PPJoin candidate generation over a `_shingle_sets` relation
    (doc_id, ss, n_sh): prefix + length + positional filters, distinct
    (d1, d2) with d1 < d2. ONE copy — the registered query's verify
    join and the Zipf-regime candidate measurements (tests/test_zipf
    .py) both consume it, so the measured candidate counts are always
    counts of the shipped plan. It consumes the sets relation, not a
    (doc_id, shingle) stream: the per-doc size is already on the row
    (no per-consumer `sizes` groupBy and join), and the shingle
    stream is an in-row explode of the array (guide §2.3: aggregate
    once, re-derive narrow)."""
    sh = sets.select("doc_id", "n_sh", F.explode("ss").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    wp = Window.partitionBy("doc_id").orderBy("df", "shingle")
    N, D = JACCARD_T_NUM, JACCARD_T_DEN
    # integer-exact ceil(t*n) = (N*n + D-1) div D — the double form
    # F.ceil(t * n) can land one ULP above an exact integer for a
    # non-dyadic t and shorten the prefix by one.
    prefix = (
        sh.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(wp))
        .where(F.col("pos") <= F.col("n_sh")
               - F.expr(f"({N} * n_sh + {D - 1}) div {D}") + 1)
        .select("doc_id", "shingle", "pos", "n_sh")
    )
    return (
        prefix.select(F.col("doc_id").alias("d1"), "shingle",
                      F.col("pos").alias("p1"),
                      F.col("n_sh").alias("n1"))
        .join(prefix.select(F.col("doc_id").alias("d2"), "shingle",
                            F.col("pos").alias("p2"),
                            F.col("n_sh").alias("n2")),
              "shingle")
        .where(F.col("d1") < F.col("d2"))
        # length filter (Xiao et al. §3.1): J >= t forces
        # t*max(|x|,|y|) <= min(|x|,|y|) — integer-exact as
        # N*max <= D*min.
        .where(F.lit(N) * F.greatest("n1", "n2")
               <= F.lit(D) * F.least("n1", "n2"))
        # positional filter (§3.2): the FIRST common token of a
        # qualifying pair sits inside both prefixes at (p1, p2), and
        # every other common token ranks after it in BOTH rarity
        # orders, so overlap <= 1 + min(n1-p1, n2-p2). Qualifying
        # needs overlap >= alpha = ceil(N*(n1+n2)/(D+N)) (J >= t
        # <=> inter >= t/(1+t)*(n1+n2)). Keeping any occurrence
        # that passes is a superset of the exact first-token rule —
        # recall stays total (fuzzed in tests/test_properties.py).
        .where(F.lit(1) + F.least(F.col("n1") - F.col("p1"),
                                  F.col("n2") - F.col("p2"))
               >= F.expr(f"({N} * (n1 + n2) + {D + N - 1}) "
                         f"div {D + N}"))
        .select("d1", "d2")
        .distinct()
    )


def ngram_jaccard_pairs_prefix(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """ngram_jaccard_pairs computed the PPJoin way (Xiao et al. 2008
    prefix filtering): an EXACT sub-quadratic set-similarity join —
    the zero-recall-loss alternative to the MinHash/SimHash candidate
    generators in this module. Same output, same oracle, different
    candidate algebra:

    - order every document's shingle set by ascending document
      frequency (rarest first; (df, shingle) — integers + strings,
      cross-engine total);
    - PREFIX each set to its first |x| - ceil(t*|x|) + 1 elements.
      The prefix lemma: if J(A,B) >= t, the overlap is >= t*max(|A|,
      |B|) >= ceil(t*|A|), but two disjoint prefixes cap the overlap
      at ceil(t*|A|) - 1 — so every qualifying pair shares a PREFIX
      shingle and the prefix inverted-index join is a strict superset
      of the answer (pinned in tests/test_properties.py);
    - prune survivors with the LENGTH filter (J >= t forces
      t*max(|x|,|y|) <= min(|x|,|y|)) and the POSITIONAL filter
      (the first common token bounds the remaining overlap by
      1 + min(|x|-p1, |y|-p2), which must reach
      alpha = ceil(t/(1+t)*(|x|+|y|))) — Xiao et al.'s full filter
      set, both recall-lossless (fuzzed in tests/test_properties.py);
    - verify candidates exactly: per-pair array_intersect over the
      per-doc sorted shingle arrays (bounded per doc — the
      bounded-holder discipline), same dround'ed Jaccard and
      threshold as the plain query.

    All cut-offs compute in int64 via (N*n + D-1) div D on the
    rational threshold (JACCARD_T_NUM/JACCARD_T_DEN) — exact for any
    rational t where the double product can misround.

    Why it scales where the plain join degrades: the full inverted
    index pays O(df^2) pairs on every COMMON shingle; the prefix
    index only posts each document under its ~(1-t)|x| RAREST
    shingles, so hot shingles (every doc sharing 'the quick fox')
    post only the docs for which they are locally rare. 10x curve
    measured alongside the plain form in SCALE.md."""
    docs = tables.load(spark, sf_dir, "documents")
    # ONE materialized shingle-set relation drives the whole query
    # (guide §2.4/§8 "move heavy bytes once"): the
    # prefix index references it twice (d1/d2 sides of the inverted-
    # index join), the verify tail twice more — under the lazy DAG
    # each reference re-ran the full scan+explode+aggregate lineage
    # (16 parquet scans, 58 Exchanges in the before-plan).
    # localCheckpoint materializes the corpus-bounded relation (one
    # row per doc) inside the timed query and truncates the lineage,
    # so every consumer reads blocks instead of recomputing. Measured
    # (interleaved min-of-4, sf0.1): 4.50 -> 3.46 s; after-plan: 1
    # parquet scan. At 100 TB the same move replaces 5 corpus
    # scans+tokenizes with one materialization of the (doc_id,
    # shingle-set) proxy — the guide §8 decision-pass shape.
    sets = _shingle_sets(docs).localCheckpoint()
    cand = _ppjoin_candidates(sets)
    return (
        cand.join(sets.select(F.col("doc_id").alias("d1"),
                              F.col("ss").alias("s1")), "d1")
        .join(sets.select(F.col("doc_id").alias("d2"),
                          F.col("ss").alias("s2")), "d2")
        .withColumn("inter", F.size(F.array_intersect("s1", "s2")))
        .withColumn("union",
                    F.size("s1") + F.size("s2") - F.col("inter"))
        .withColumn("jaccard", dround(F.col("inter") / F.col("union"), 6))
        # the EXACT rational threshold (see _exact_jaccard_tail): the
        # filter lemmas guarantee recall for J >= t exactly, so the
        # verify must test exactly that, not the rounded double
        .where(F.lit(JACCARD_T_DEN) * F.col("inter")
               >= F.lit(JACCARD_T_NUM) * F.col("union"))
        .select("d1", "d2", "jaccard")
    )


def _minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One md5 per shingle; the 12 permutations are derived
    arithmetically: split the md5 into two 56-bit halves (a, b) and
    h_i = (a + i*b) mod 2^56 — the classic affine family, 12x fewer
    hashes than hashing (seed, shingle) pairs. Single shuffle
    (groupBy doc_id) with map-side partial min aggregation."""
    return _minhash_sig_df(tables.load(spark, sf_dir, "documents"))


def _minhash_sig_df(docs: DataFrame) -> DataFrame:
    """_minhash_sig over an arbitrary (doc_id, text) DataFrame — the
    form the streaming near-dup job feeds micro-batches through."""
    sh = _shingles_all(docs).withColumn("h", F.md5("shingle"))
    a = F.conv(F.substring("h", 1, 14), 16, 10).cast("long")
    b = F.conv(F.substring("h", 15, 14), 16, 10).cast("long")
    hashed = sh.select("doc_id", a.alias("a"), b.alias("b"))
    aggs = [
        F.min(
            (F.col("a") + F.lit(i) * F.col("b")) % F.lit(MINHASH_MOD)
        ).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _sig_long(wide: DataFrame) -> DataFrame:
    """Unpivot the wide signature to (doc_id, seed, minhash) rows."""
    stack_expr = "stack({n}, {args}) as (seed, minhash)".format(
        n=N_MINHASH,
        args=", ".join(f"{i}, mh{i}" for i in range(N_MINHASH)),
    )
    return wide.select("doc_id", F.expr(stack_expr))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature rows (doc_id, seed, minhash) — the
    differentially-tested building block of the LSH pipeline."""
    return _sig_long(_minhash_sig(spark, sf_dir))


def bucket_pairs(rows: DataFrame, keys: list[str], item: Column,
                 cap: int | None) -> DataFrame:
    """(d1, d2) rows: the upper triangle of every bucket of `rows`
    that shares `keys`, over the bucket's `item` values sorted
    ascending, so d1 < d2. The one pair expander of the near-dup
    family (LSH and simhash bands, winnowing fingerprints, media
    fingerprint bands); each caller applies its own verify step to
    the pairs (struct items are read back as d1.<field>).

    No self-join: one groupBy collects the bucket's sorted list and
    posexplode + slice emits the triangle, so the signature pipeline
    upstream runs once (a bucket-key self-join computed it twice —
    Spark can't reuse the exchange once one side broadcasts; measured
    4 parquet scans, and 4.1 s vs 3.1 s for simhash at sf0.1).

    Cap before collect: a window count on `keys` keeps buckets of
    2..`cap` members (`cap=None`: any size from 2 up, for the uncapped
    recall anchors) BEFORE collect_list. A bucket of B members emits
    B(B-1)/2 pairs, so one boilerplate bucket at corpus scale goes
    quadratic; with the guard its rows never enter an array and no
    reducer materializes a bucket-sized list. The window and the
    groupBy hash-partition on the same key, so the guard costs no
    extra exchange (tests/test_plans.py pins the Exchange counts)."""
    cond = F.col("_bn") >= 2
    if cap is not None:
        cond = cond & (F.col("_bn") <= cap)
    pre = (rows.withColumn("_bn", F.count("*").over(Window.partitionBy(*keys)))
           .where(cond).drop("_bn"))
    b = pre.groupBy(*keys).agg(F.sort_array(F.collect_list(item)).alias("ds"))
    return (
        b.select(F.posexplode("ds").alias("i", "d1"), "ds")
        .select("d1", F.explode(
            F.slice(F.col("ds"), F.col("i") + 2, F.size("ds"))).alias("d2"))
    )


def _lsh_pairs(bands: DataFrame, cap: int | None) -> DataFrame:
    """Distinct (d1, d2) doc pairs sharing an LSH bucket of a
    (doc_id, band, band_key) relation; a pair that collides in k
    bands surfaces k times before the distinct."""
    return bucket_pairs(bands, ["band", "band_key"], F.col("doc_id"),
                        cap).distinct()


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: 12 permutations, 4 bands x 3 rows;
    docs collide when a band's minhashes all agree. Band keys are
    hashed straight off the wide signature row (no unpivot/regroup
    round-trip); pair generation is bucket-local (see bucket_pairs);
    candidates get exact-verified by ngram_jaccard_pairs downstream."""
    return _lsh_pairs(_lsh_bands(spark, sf_dir), None)


# Max docs per LSH bucket before the bucket is declared degenerate
# and dropped: fixture-calibrated to 2 so the drop path is exercised
# (the sf0.01 corpus has size-3 buckets); in production ~1e3. A
# band_key shared by B docs emits B(B-1)/2 pairs — one boilerplate/
# empty-doc bucket at corpus scale turns the self-join quadratic.
LSH_BUCKET_CAP = 2


def _lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_key) rows — band keys hashed straight off
    the wide signature, shared by the capped and uncapped pair
    generators."""
    return _lsh_bands_df(_minhash_sig(spark, sf_dir))


def _lsh_bands_df(wide: DataFrame) -> DataFrame:
    """Band keys from an already-computed wide signature DataFrame."""
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"mh{b * LSH_ROWS + r}").cast("string")
                      for r in range(LSH_ROWS)],
                )
            ).alias("band_key"),
        )
        for b in range(LSH_BANDS)
    ])
    return wide.select(
        "doc_id", F.explode(band_structs).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.band_key").alias("band_key"))


def dedup_minhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with degenerate-bucket capping (closes the
    SCALE.md honest gap). Buckets holding more than LSH_BUCKET_CAP
    docs are dropped BEFORE the self-join — the quadratic blowup never
    materializes; the docs in a dropped bucket still pair through
    their other bands, and exact duplicates are dedup_exact's job.
    The cap is bucket_pairs' window count — it rides the bucket-key
    shuffle pair generation already needs."""
    return _lsh_pairs(_lsh_bands(spark, sf_dir), LSH_BUCKET_CAP)


def dedup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup query: exact word-3-gram Jaccard >= 0.5
    computed ONLY over the capped-LSH candidate pairs — the composed
    candidates-then-verify pipeline (dedup_minhash_pairs_capped ->
    exact Jaccard) that replaces ngram_jaccard_pairs' standalone
    shingle self-join at corpus scale.

    Plan shape: candidates (bucket-local, capped — never quadratic)
    drive two key-joins against the shingle index; the intersection
    count exists only for candidate pairs, so the hot-shingle blowup of
    the standalone self-join cannot occur. ngram_jaccard_pairs remains
    registered as the fixture-scale recall oracle for this pipeline.

    Everything derives from ONE `_shingle_sets` relation (guide
    §2.3/§2.4) — the MinHash signature (min over an
    affine permutation is multiplicity-invariant, so hashing the
    DISTINCT per-doc shingles from the set array gives bit-identical
    mh_i to the old multiplicity stream; pinned in
    tests/test_properties.py::test_verified_pairs_sets_based_sig_identical),
    the verify index's d1/d2 sides (in-row explodes of the array) and
    the per-doc sizes (already on the row). The old shape re-derived
    the corpus tokenize 4x (sig stream, a-side, b-side, sizes — 10
    parquet scans, 36 Exchanges in the before-plan; after: 4 scans,
    and measured 2.81 -> 2.23 s interleaved min-of-4 at sf0.1). NOT
    localCheckpoint'ed: with only 3 set-consumers the re-derivation
    is cheaper than materializing the arrays (measured 2.84 vs
    2.23 s) — unlike the prefix query's 5-consumer diamond."""
    docs = tables.load(spark, sf_dir, "documents")
    sets = _shingle_sets(docs)
    sh = sets.select("doc_id", "n_sh",
                     F.explode("ss").alias("shingle"))
    h = F.md5("shingle")
    a56 = F.conv(F.substring(h, 1, 14), 16, 10).cast("long")
    b56 = F.conv(F.substring(h, 15, 14), 16, 10).cast("long")
    hashed = sh.select("doc_id", a56.alias("a"), b56.alias("b"))
    aggs = [
        F.min(
            (F.col("a") + F.lit(i) * F.col("b")) % F.lit(MINHASH_MOD)
        ).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]
    wide = hashed.groupBy("doc_id").agg(*aggs)
    cands = _lsh_pairs(_lsh_bands_df(wide), LSH_BUCKET_CAP)
    sizes = sets.select("doc_id", "n_sh")
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        cands.join(a, "d1")
        .join(b, ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("inter"))
    )
    return _exact_jaccard_tail(inter, sizes)


def _dup_doc_ids(bands: DataFrame, cap: int | None = None) -> DataFrame:
    """Doc ids that collide with an EARLIER doc (lower doc_id) in some
    LSH bucket, once per such bucket (flag_dups takes the distinct) —
    the min-per-bucket probe, NOT pair expansion: a rank
    within the bucket answers "is there an earlier doc here?" in O(B)
    per bucket, where bucket_pairs would generate B(B-1)/2 rows for
    the same verdict. One window over the bucket key (a single
    exchange, signature pipeline computed once — the groupBy+join form
    its streaming twin uses computes the lineage twice; the stream
    needs that form only because its index is external state).

    With `cap`, a bucket flags at most `cap` docs and then goes
    inert (a degenerate boilerplate bucket must not mark every future
    colliding doc as dup) — rank r is flagged iff 2 <= r <= cap+1,
    exactly the cumulative-prior rule the streaming index applies."""
    w = Window.partitionBy("band", "band_key").orderBy("doc_id")
    ranked = bands.withColumn("rn", F.row_number().over(w))
    cond = F.col("rn") >= 2
    if cap is not None:
        cond = cond & (F.col("rn") <= cap + 1)
    return ranked.where(cond).select("doc_id")


def flag_dups(docs: DataFrame, dup_ids: DataFrame) -> DataFrame:
    """(doc_id, dup) for every doc of `docs`: dup iff its doc_id is in
    `dup_ids` (repeats allowed — the distinct is taken here). The one
    flag join of the arrival-order verdicts: the LSH and pHash batch
    anchors and their streaming epochs."""
    return (
        docs.select("doc_id")
        .join(dup_ids.distinct().withColumn("dup", F.lit(True)),
              "doc_id", "left")
        .fillna(False, subset=["dup"])
    )


def neardup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document near-dup verdict: dup = the doc shares an LSH
    bucket with an EARLIER doc (equivalently: doc_id > min(doc_id) of
    some bucket it belongs to — the min-per-bucket probe; no candidate
    pair is ever materialized, see _dup_doc_ids). This is the batch
    anchor of the incremental streaming job
    (streaming/jobs.run_streaming_neardup) — tests/test_streaming.py
    proves the streamed per-epoch flags equal this relation exactly,
    and the oracle here value-checks the relation itself."""
    docs = tables.load(spark, sf_dir, "documents")
    dups = _dup_doc_ids(_lsh_bands(spark, sf_dir))
    return flag_dups(docs, dups)


def neardup_flags_capped_df(docs: DataFrame,
                            cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """Batch twin of the CAPPED streaming near-dup job: each bucket
    flags at most `cap` docs (arrival order = doc_id order), then goes
    inert. tests/test_streaming.py proves the capped streaming flags
    equal this relation under doc_id-ordered arrival."""
    dups = _dup_doc_ids(_lsh_bands_df(_minhash_sig_df(docs)), cap)
    return flag_dups(docs, dups)


def neardup_flags_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup verdict: the min-per-bucket probe with
    the per-bucket flag cap (LSH_BUCKET_CAP) — a degenerate
    boilerplate bucket flags at most `cap` later docs and then goes
    inert, so one multi-million-row bucket can never concentrate a
    whole corpus partition into a single sort task at 100x scale.
    `neardup_flags` (uncapped) stays registered as the recall anchor;
    this capped form is what the default streaming job
    (streaming/jobs.run_streaming_neardup) now mirrors."""
    docs = tables.load(spark, sf_dir, "documents")
    return neardup_flags_capped_df(docs, LSH_BUCKET_CAP)


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration: for every LSH candidate pair, the MinHash
    Jaccard estimate = (# agreeing permutations)/12. Downstream
    dedup thresholds on this instead of the exact Jaccard when the
    shingle sets are too large to re-intersect; ngram_jaccard_pairs
    is the exact twin to calibrate against."""
    wide = _minhash_sig(spark, sf_dir)
    pairs = _lsh_pairs(_lsh_bands(spark, sf_dir), None)
    a = wide.select(F.col("doc_id").alias("d1"),
                    *[F.col(f"mh{i}").alias(f"a{i}")
                      for i in range(N_MINHASH)])
    b = wide.select(F.col("doc_id").alias("d2"),
                    *[F.col(f"mh{i}").alias(f"b{i}")
                      for i in range(N_MINHASH)])
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    return (
        pairs.join(a, "d1").join(b, "d2")
        .select("d1", "d2", n_agree.alias("n_agree"))
        .select("d1", "d2", "n_agree",
                dround(F.col("n_agree") / F.lit(float(N_MINHASH)), 6)
                .alias("est_jaccard"))
    )


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document as a 64-char '0/1' string.
    bit j = [ sum_t tf(t) * (2*bit_j(md5(t)) - 1) > 0 ].

    Plan shape: the md5 bit extraction is a PURE FUNCTION of the token
    string, computed INLINE on each (doc, token) tf row — there is no
    vocab-wide state anywhere: no broadcast bit table (the earlier
    form broadcast |vocab| rows, unbounded by corpus size — a 100 TB
    corpus has billions of distinct tokens), no join, no second
    shuffle. Measured FASTER too at sf0.1 (the broadcast+join overhead
    exceeded the recomputed bit arithmetic). Bits come from 16 nibble
    columns via shiftright+mask (the portable instr/floor/pow _BIT_SQL
    form costs ~15% more at sf0.1 — the oracle keeps it; both compute
    identical values, differentially proven). Per-doc signatures are
    64 algebraic sums in one hash aggregate — no 64x row explosion;
    tests/test_plans.py asserts the plan is join-free."""
    # no tables.spread here (unlike the shingle pipeline): measured
    # both ways at sf0.1 — the map side is one cheap explode + md5,
    # so the spread's round-robin shuffle costs more than the extra
    # scan parallelism buys (1.76 s vs 1.24 s); on real multi-split
    # layouts the scan parallelizes by itself
    docs = tables.load(spark, sf_dir, "documents")
    tf = (
        token_rows(docs, "doc_id")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", F.md5("tok"))
    )
    # The 16 nibble columns, 64 bit-sums and 64 sign bits are built as
    # SQL STRINGS parsed once on the JVM (F.expr / selectExpr): the
    # earlier Column-tree construction issued one py4j round-trip per
    # operator node (~hundreds for this plan) and dominated the query
    # at ~3 s of pure driver latency per invocation; the string forms
    # produce the IDENTICAL analyzed plan for ~0.1 s.
    nibs = tf.selectExpr(
        "doc_id", "tf",
        *[f"cast(conv(substring(h, {k + 1}, 1), 16, 10) AS int)"
          f" AS nib{k}" for k in range(16)],
    )
    sums = [
        F.expr(
            f"sum(tf * (2 * (shiftright(nib{j // 4}, {3 - j % 4}) & 1)"
            f" - 1)) AS s{j}")
        for j in range(64)
    ]
    wide = nibs.groupBy("doc_id").agg(*sums)
    sig = F.expr(
        "concat(" + ", ".join(
            f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END"
            for j in range(64)) + ")")
    return wide.select("doc_id", sig.alias("simhash"))


SIMHASH_BANDS = 4       # 4 x 16-bit bands for candidate blocking
HAMMING_MAX = 8


# Max docs per 16-bit simhash band bucket before the bucket is
# declared degenerate and dropped (capped variant): natural-language
# simhash CONCENTRATES — the sf0.1 fixture already grows a 291-doc
# band bucket (~42k pairs from one key). Fixture-calibrated to 8 so
# the drop path is exercised (sf0.01 has buckets up to 28); in
# production ~1e3.
SIMHASH_BUCKET_CAP = 8


def _simhash_pairs(sig: DataFrame, cap: int | None) -> DataFrame:
    """Banded simhash near-dup pairs over a (doc_id, simhash)
    signature table: bucket_pairs on the band key (sort_array on the
    (doc_id, simhash) structs orders by doc_id, so d1 < d2 falls out
    of the triangle), then the exact hamming filter."""
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.concat(
                    F.lit(str(b)),
                    F.lit(":"),
                    F.substring("simhash", 1 + 16 * b, 16),
                )
                for b in range(SIMHASH_BANDS)
            ])
        ).alias("band_key"),
    )
    cands = bucket_pairs(bands, ["band_key"],
                         F.struct("doc_id", "simhash"), cap).select(
        F.col("d1.doc_id").alias("d1"), F.col("d2.doc_id").alias("d2"),
        F.col("d1.simhash").alias("s1"), F.col("d2.simhash").alias("s2"),
    )
    # hamming via codegen bit arithmetic, not an interpreted per-char
    # lambda (64 zip_with evals per candidate pair dominated the
    # query): each 16-bit band chunk -> int, XOR, popcount.
    # Computed BEFORE the dedup exchange: a pair surfacing in k bands
    # gets the identical hamming each time, so distinct on
    # (d1, d2, hamming) is the same relation — but the exchange now
    # carries only the MATCHES (hamming <= max) as 3 ints instead of
    # every band-duplicate candidate with two 64-char signature
    # strings (30x corpus: 165k wide rows -> 10.7k narrow rows;
    # measured 17.5 s -> ~6 s standalone, see SCALE.md).
    ham = sum(
        F.bit_count(
            F.conv(F.substring("s1", 1 + 16 * b, 16), 2, 10).cast("long")
            .bitwiseXOR(
                F.conv(F.substring("s2", 1 + 16 * b, 16), 2, 10)
                .cast("long"))
        )
        for b in range(SIMHASH_BANDS)
    )
    return (
        cands.withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= HAMMING_MAX)
        .select("d1", "d2", "hamming")
        .distinct()
    )


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: candidates share at least one 16-bit
    band of the 64-bit signature (pigeonhole: any pair with hamming
    <= 3 must collide; wider radius pairs are found probabilistically),
    then exact hamming filter <= 8. Banding keeps the pair generation
    |docs| x bands; the hamming check runs on candidates only. See
    _simhash_pairs for the plan shape; the capped sibling is the
    production form at corpus scale."""
    return _simhash_pairs(simhash(spark, sf_dir), None)


def simhash_neardup_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION simhash near-dup query: band buckets holding
    more than SIMHASH_BUCKET_CAP docs are degenerate (boilerplate/
    near-identical text concentrating on one band value — the sf0.1
    fixture already grows a 291-doc bucket) and are dropped BEFORE
    any pair exists (bucket_pairs' cap). Docs in a dropped bucket
    still pair through their other three bands."""
    return _simhash_pairs(simhash(spark, sf_dir), SIMHASH_BUCKET_CAP)


def neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup edge list: verified pairs (capped-LSH
    candidates -> exact Jaccard, dedup_verified_pairs) — never the
    standalone quadratic shingle self-join (ngram_jaccard_pairs, the
    demoted fixture-scale recall oracle). tests/test_plans.py asserts
    this plan contains no shingle-only equi-join."""
    return dedup_verified_pairs(spark, sf_dir).select("d1", "d2")


# Winnowing (the MOSS document-fingerprinting scheme, Schleimer/
# Wilkerson/Aiken SIGMOD'03): k-gram hashes, keep the MINIMUM hash of
# every window of WINNOW_W consecutive grams (ties -> rightmost
# position, per the paper). Guarantee: any shared substring of length
# >= WINNOW_W + WINNOW_K - 1 contributes at least one shared
# fingerprint. The argmin-with-tiebreak is encoded ARITHMETICALLY so
# a plain window MIN computes it identically in Spark and DuckDB:
# c(i) = h8(i) * 2^31 + (2^31 - 1 - i), h8 < 2^32 -> c <= 2^63 - 1
# (fits int64 EXACTLY; both decodes are integer div/mod, never the
# double path); decode pos/fp back out of the winning value. A
# 2^20 position width would silently CORRUPT fingerprints for
# documents >= 2^20 chars (a 1.1 MB web page) — the position would
# borrow into h8, decoding to fp-1 and garbage pos with no error. 2^31
# supports 2 GiB documents (the engine's own string ceiling); the
# width never changes selection for an in-range doc (h8 dominates,
# same tie-break). K calibration: 5-char grams are
# corpus-common in natural text (winnowing's min-selection then picks
# the same globally-small hashes everywhere — measured: every doc
# pair shared <= 2 under-cap fps); 10-char grams are discriminative
# (fixture near-dups share 11-18 fps, random pairs 0-2).
WINNOW_K = 10
WINNOW_W = 8
_POS_M = 1 << 31


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprints per document: distinct (doc_id, pos, fp)
    selected by the min-of-each-window rule. Plan: one gram-position
    explode (codegen md5 + conv), one window min per doc ordered by
    position (single shuffle on doc_id), distinct decode. Linear in
    text size; fingerprint density ~ 2/(WINNOW_W+1) per gram."""
    return winnow_fingerprints_df(
        tables.spread(tables.load(spark, sf_dir, "documents")))


def winnow_fingerprints_df(docs: DataFrame) -> DataFrame:
    """winnow_fingerprints over an arbitrary (doc_id, text) DataFrame
    — also the unit under the coverage-guarantee property test (any
    shared substring of length >= WINNOW_W + WINNOW_K - 1 yields a
    shared fingerprint)."""
    n = F.length("text")
    hi = n - (WINNOW_K - 1)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.when(hi >= 1, F.sequence(F.lit(1), hi))
            .otherwise(F.array().cast("array<int>"))
        ).alias("i"),
        hi.alias("g"),
        F.conv(
            F.substring(
                F.md5(F.expr(f"substring(text, i, {WINNOW_K})")), 1, 8),
            16, 10,
        ).cast("long").alias("h8"),
    )
    c = F.col("h8") * _POS_M + (_POS_M - 1 - F.col("i"))
    w = (Window.partitionBy("doc_id").orderBy("i")
         .rowsBetween(Window.currentRow, WINNOW_W - 1))
    wins = (
        grams.withColumn("c", c)
        .withColumn("m", F.min("c").over(w))
        .where(F.col("i") <= F.col("g") - (WINNOW_W - 1))
    )
    return (
        wins.select(
            "doc_id",
            (_POS_M - 1 - F.col("m") % _POS_M).cast("int").alias("pos"),
            # integer div, NOT floor(m / M): the double division is
            # only exact below 2^52 and c now fills int64
            F.expr(f"m div {_POS_M}").cast("long").alias("fp"),
        )
        .distinct()
    )


# fps held by more docs than this are boilerplate and dropped before
# pair expansion (bucket_pairs' cap); pairs must then share at least
# WINNOW_MIN_SHARED distinct fingerprints.
WINNOW_FP_CAP = 8
WINNOW_MIN_SHARED = 3


def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= WINNOW_MIN_SHARED distinct winnowed
    fingerprints — the MOSS overlap report. Fingerprints held by more
    than WINNOW_FP_CAP docs are dropped as boilerplate BEFORE any pair
    exists (bucket_pairs on the fingerprint)."""
    fps = winnow_fingerprints(spark, sf_dir).select(
        "doc_id", "fp").distinct()
    pairs = bucket_pairs(fps, ["fp"], F.col("doc_id"), WINNOW_FP_CAP)
    return (
        pairs.groupBy("d1", "d2")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


# Content-defined chunking (rsync/LBFS-style): gram size and the
# boundary modulus (expected chunk length ~ CDC_P chars + K). The
# boundary rule is STATELESS (hash of the K-gram at a position), so
# identical text regions chunk identically regardless of where they
# sit in a document — what makes chunk-hash dedup find shared spans
# across near-dup docs — and the whole pipeline is expressible
# identically in Spark and the SQL oracle.
CDC_K = 8
CDC_P = 32


def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: cut each document where the md5 of
    the K-gram starting at a position satisfies hash % CDC_P == 0,
    emit (doc_id, chunk_no, chunk_len, chunk_md5). Sub-document
    dedup building block: shared spans between near-dup docs produce
    IDENTICAL interior chunks (boundaries depend only on local
    content), so chunk_md5 grouping finds partial overlaps that
    whole-doc fingerprints miss.

    Plan: one explode over gram positions (codegen md5 + conv, no
    HOF), boundary rows are ~len/CDC_P per doc, collected to a
    per-doc sorted array (one small shuffle), chunk spans derived
    array-side and md5'd per chunk. Never quadratic; shuffle volume
    is boundary positions + one row per doc."""
    return cdc_chunks_df(
        tables.spread(tables.load(spark, sf_dir, "documents")))


def cdc_chunks_df(docs: DataFrame, with_text: bool = False) -> DataFrame:
    """cdc_chunks over an arbitrary (doc_id, text) DataFrame — also
    the unit under tests/test_properties.py's content-locality
    property (a prefix edit must not move chunk boundaries in the
    distant suffix — the CDC guarantee fixed-size chunking lacks).
    `with_text=True` adds the chunk_text column (the span itself) for
    consumers that featurize chunks, e.g. chunk_retrieval_topk.

    Boundary derivation is IN-ROW: a higher-order filter over
    the position sequence evaluates the same md5 %-test per K-gram
    and yields the ascending boundary array directly. The previous
    shape exploded one row per text POSITION — each carrying the
    full text column, O(len^2) bytes per doc through the explode —
    then shuffled the survivors into a collect_list and joined them
    back to docs. Same hash, same boundaries, bitwise-identical
    chunks (value-compared at sf0.1 and pinned by the short-text
    test below); 0.92 -> 0.37 s interleaved min-of-4 at sf0.1, and
    the groupBy Exchange + self-join are gone from every CDC
    consumer's plan. The interpreted-lambda penalty (verify notes)
    is irrelevant here: the per-element work IS an md5 call, which
    dwarfs the boxing. NOTE the guard stays an explicit if(): Spark's
    sequence(2, hi) is DESCENDING for hi < 2, so filtering a clamped
    sequence would fabricate a position-2 boundary on texts shorter
    than K+1."""
    bs_expr = (
        f"if(length(text) - {CDC_K - 1} >= 2, "
        f"   filter(sequence(2, length(text) - {CDC_K - 1}), "
        f"          i -> cast(conv(substring(md5(substring(text, i, "
        f"{CDC_K})), 1, 8), 16, 10) AS bigint) % {CDC_P} = 0), "
        f"   array())"
    )
    spans = (
        docs.select("doc_id", "text", F.expr(bs_expr).alias("bs"))
        .select(
            "doc_id", "text",
            F.posexplode(
                F.arrays_zip(
                    F.concat(F.array(F.lit(1)), F.col("bs")).alias("s"),
                    F.concat(
                        F.transform(F.col("bs"), lambda b: b - 1),
                        F.array(F.length("text")),
                    ).alias("e"),
                )
            ).alias("chunk_no", "span"),
        )
    )
    ln = F.col("span.e") - F.col("span.s") + 1
    cols = [
        F.col("doc_id"),
        F.col("chunk_no").cast("int").alias("chunk_no"),
        ln.cast("int").alias("chunk_len"),
        F.md5(F.expr("substring(text, span.s, span.e - span.s + 1)"))
        .alias("chunk_md5"),
    ]
    if with_text:
        cols.append(
            F.expr("substring(text, span.s, span.e - span.s + 1)")
            .alias("chunk_text"))
    return spans.select(*cols)


def cdc_dup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated chunks: CDC chunk hashes appearing in
    >= 2 distinct documents, with occurrence counts — the sub-document
    dedup verdict (which spans are shared, how widely)."""
    ch = cdc_chunks(spark, sf_dir)
    return (
        ch.groupBy("chunk_md5")
        .agg(F.countDistinct("doc_id").alias("n_docs"),
             F.count("*").alias("n_occurrences"),
             F.min("chunk_len").alias("chunk_len"))
        .where(F.col("n_docs") >= 2)
    )


def cdc_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication ratio over CDC chunks: a chunk
    OCCURRENCE is dup iff the same chunk_md5 already occurred earlier
    in corpus order (smaller doc_id, or same doc at a smaller
    chunk_no) — the metric a training pipeline thresholds on to drop
    mostly-recycled documents. One window rank per chunk hash; the
    ordering key (doc_id, chunk_no) is unique, so the verdict is
    deterministic on any engine. Batch anchor of the incremental
    streaming job (streaming/jobs.run_streaming_cdc)."""
    ch = cdc_chunks(spark, sf_dir)
    w = Window.partitionBy("chunk_md5").orderBy("doc_id", "chunk_no")
    ranked = ch.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("rn") > 1).cast("long")).alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_ratio",
            dround(F.col("n_dup_chunks") / F.col("n_chunks"), 6),
        )
    )


# ExactSubstr-style duplicated-span removal (Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better"): unlike
# whole-document dedup, the unit is the SPAN — any K-token window
# whose content occurs >= 2 times anywhere in the corpus (across OR
# within documents) is duplicated, and the tokens it covers are
# stripped while the rest of the document survives. The paper finds
# spans via a corpus-wide suffix array; the scalable Spark form is
# rolling window hashes — every K-token window is hashed, a window is
# duplicated iff its hash occurs twice (md5 collisions are negligible
# at 2^-64 over corpus window counts), which is exactly the suffix-
# array verdict for length-K matches. K is the span threshold (the
# paper uses 50 BPE tokens at corpus scale; 8 words here so the
# short-doc fixtures exercise the path — ~9% of fixture windows are
# duplicated). Linear plan: one token explode, one map-side-combined
# count per hash, one hash equi-join back, one bounded per-doc window
# for span cover — no pair expansion anywhere.
DUP_SPAN_K = 8


def _span_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, p, tok, whash): 1-based token positions with, for
    positions that start a full K-token window, the md5 of that
    window (space-joined tokens; NULL for tail positions). The token
    array stays inside the row until the explode — no shuffle."""
    ts = F.array_remove(
        F.split(
            F.regexp_replace(F.col("text"), "^[^a-zA-Z]+|[^a-zA-Z]+$", ""),
            NON_LETTER_RE,
        ),
        "",
    )
    base = tables.spread(docs).select("doc_id", ts.alias("ts"))
    return (
        base.select(
            "doc_id", "ts",
            F.posexplode("ts").alias("p0", "tok"),
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).cast("int").alias("p"),
            "tok",
            F.expr(
                f"CASE WHEN p0 + {DUP_SPAN_K} <= size(ts) THEN"
                f" md5(concat_ws(' ', slice(ts, p0 + 1, {DUP_SPAN_K})))"
                f" END"
            ).alias("whash"),
        )
    )


def _dup_window_counts(tok: DataFrame) -> DataFrame:
    """(whash, c): window hashes occurring >= 2 times corpus-wide —
    the DUPLICATED set only. The count aggregate is map-side
    combinable (~one row per token pre-combine), and filtering to
    c >= 2 BEFORE the join-back means the relation re-entering the
    pipeline holds only duplicated hashes — a small fraction of the
    corpus on clean data (fixture: ~9%), which keeps it broadcast-
    able far longer at scale; consumers read membership
    (c IS NOT NULL after a left join) as the dup verdict."""
    return (
        tok.where(F.col("whash").isNotNull())
        .groupBy("whash")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
    )


def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span exposure: how many of the doc's
    K-token windows occur >= 2 times corpus-wide, and the fraction —
    the thresholding metric for span-level dedup (a doc that is
    mostly recycled spans gets dropped; a doc with a quoted paragraph
    keeps everything outside it). Docs shorter than K tokens have
    zero windows and report dup_frac 0."""
    docs = tables.load(spark, sf_dir, "documents")
    tok = _span_tokens(docs)
    flags = tok.join(_dup_window_counts(tok), "whash", "left").select(
        "doc_id",
        F.col("whash").isNotNull().cast("long").alias("w"),
        F.col("c").isNotNull().cast("long").alias("dup"),
    )
    per = flags.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("w").alias("n_windows"),
        F.sum("dup").alias("n_dup_windows"),
    )
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        F.when(
            F.coalesce(F.col("n_windows"), F.lit(0)) > 0,
            dround(F.col("n_dup_windows") / F.col("n_windows"), 6),
        ).otherwise(F.lit(0).cast("decimal(18,6)")).alias("dup_frac"),
    )


def strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr REMOVAL step: a token is covered iff any
    duplicated window starts within the K-1 positions before it (or
    at it); covered tokens are stripped and the survivors re-joined
    in order. Cover detection is one bounded per-doc window max (K
    rows wide) — never a self-join; reassembly is the
    collect-sorted-list discipline (sort_array over (pos, tok)
    structs). Output: per doc, token counts kept/removed + the
    cleaned text."""
    return strip_dup_spans_df(tables.load(spark, sf_dir, "documents"))


def strip_dup_spans_df(docs: DataFrame) -> DataFrame:
    """strip_dup_spans over an arbitrary (doc_id, text) DataFrame —
    also the unit under the span-removal property test (a span
    planted in two documents disappears from both; text with no
    duplicated window survives verbatim).

    Every input doc gets an output row: a doc with no letter tokens
    (digits/punctuation-only, empty text) emits (0, 0, '') instead of
    silently vanishing — a consumer rebuilding the corpus by joining
    clean_text must not lose documents (the same left join back
    dup_span_stats carries)."""
    tok = _span_tokens(docs)
    flagged = tok.join(_dup_window_counts(tok), "whash", "left").select(
        "doc_id", "p", "tok",
        F.col("c").isNotNull().cast("int").alias("ds"),
    )
    cover = Window.partitionBy("doc_id").orderBy("p").rowsBetween(
        -(DUP_SPAN_K - 1), Window.currentRow)
    covered = flagged.withColumn("cov", F.max("ds").over(cover))
    per = (
        covered.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cov").cast("long").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("cov") == 0,
                                   F.struct("p", "tok"))
                        )
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# Label-propagation round bound for cluster_labels: converges in
# O(component diameter) rounds (round 1 covers hop 1); exhaustion
# RAISES rather than returning split clusters.
CLUSTER_MAX_ROUNDS = 49


def cluster_labels(spark: SparkSession, sf_dir: str,
                   pairs: DataFrame | None = None) -> DataFrame:
    """(doc_id, label): connected-component label (minimum reachable
    doc_id — the keeper) over the near-dup graph. The default edge
    source is neardup_edges (the capped-LSH-verified production
    pipeline); pass `pairs` to cluster over any other (d1, d2) edge
    relation.

    Iterative label propagation to a fixpoint — but ONLY over nodes
    that have at least one edge: a singleton doc's label can never
    change, so it never enters the loop (at 100 TB, near-dup nodes
    are a vanishing fraction of the corpus — iterating the label
    relation over a trillion singleton rows per round would dominate
    the whole job; here each round is O(edge-nodes + E), not
    O(corpus)). Each round joins every edge-node's label against its
    neighbors' and takes the min; diameter-many rounds (near-dup
    clusters are tiny, so 2-3). The loop is driver-side control flow
    only; all data work is shuffled joins/aggregates. Singletons are
    stitched back at the end with one left join (label = own id).

    Each round's labels are localCheckpoint'ed (materialized, lineage
    truncated), so the logical plan stays O(1) deep however many
    rounds run. Unrolled lazily the plan tree DOUBLES per round —
    `labels` is referenced twice (neighbor join + min combine) — and
    a 9-round-diameter graph OOM'ed the JVM at plan-STRING generation
    before any data moved; the lazy form was also slower (1.76 s vs
    1.27 s at sf0.1). The per-round `count()` action IS the
    convergence check, so the checkpoint adds only block-store writes
    a cache would pay for too (tests/test_fixpoint.py pins the depth).
    """
    docs = tables.load(spark, sf_dir, "documents").select("doc_id")
    if pairs is None:
        pairs = neardup_edges(spark, sf_dir)
    pairs = pairs.select("d1", "d2")
    # undirected edge list, both directions — EAGERLY materialized:
    # with a lazy .cache(), the first action (iteration 1's
    # checkpoint) contains the edge pipeline in TWO branches (the
    # round-1 labels aggregate and the neighbor join) and the
    # not-yet-populated cache lets both branches recompute the whole
    # verified-pairs pipeline inside one job. An eager localCheckpoint
    # runs the pipeline exactly once up front; every round reads the
    # materialized rows. Interleaved min-of-6 at sf0.1: 2.89 -> 2.05 s
    # median for cluster_labels end-to-end, new wins every rep. The
    # relation is the near-dup EDGE list (a vanishing fraction of the
    # corpus at scale — see the singleton note above), so the
    # materialization is bounded, unlike a corpus-sized checkpoint.
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).localCheckpoint()
    # Round 1 folded into a single aggregate: with identity initial
    # labels, the generic round's join degenerates to min over direct
    # neighbors — one exchange instead of join+agg+join. Both edge
    # directions are present, so d1 alone covers every endpoint and
    # every edge-node has >= 1 neighbor (inner joins below are safe).
    labels = (
        edges.groupBy("d1")
        .agg(F.least(F.col("d1"), F.min("d2")).alias("label"))
        .select(F.col("d1").alias("doc_id"), "label")
        .cache()
    )
    # unpersist() matches cache entries by plan, so it must be called
    # on the cached frame itself, not on a select derived from it;
    # released as soon as the first checkpointed round has read it
    round1 = labels
    converged = False
    # Diameter bound: label propagation needs O(graph diameter)
    # rounds; near-dup clusters are tiny (2-3) but a pathological
    # chain is not impossible, and returning non-converged labels
    # would mean silently split clusters / wrong keepers. So the
    # bound FAILS LOUD on exhaustion instead of returning wrong
    # answers (a 22-doc chain exceeds 20 hops).
    for _ in range(CLUSTER_MAX_ROUNDS):
        neighbor_min = (
            edges.join(labels, edges.d2 == labels.doc_id)
            .groupBy(F.col("d1").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # labels only ever decrease, so "did this round change
        # anything" is a flag computed DURING the update — no
        # old-vs-new join per round.
        new_labels = (
            labels.join(neighbor_min, "doc_id")
            .select(
                "doc_id",
                F.least(F.col("label"), F.col("nbr_label")).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("chg"),
            )
        )
        # materialize + truncate lineage: the plan below this point
        # starts from the checkpointed rows, not from stacked joins.
        # No .cache() underneath — reads go through the checkpoint
        # RDD, so a cache entry would be pure leaked storage.
        new_labels = new_labels.localCheckpoint()
        changed = new_labels.where("chg").limit(1).count()
        if round1 is not None:
            round1.unpersist()
            round1 = None
        labels = new_labels.select("doc_id", "label")
        if changed == 0:
            converged = True
            break
    # the checkpointed edge blocks are freed when the DataFrame is
    # GC'd (localCheckpoint has no unpersist surface); the relation
    # is edge-list-bounded, not corpus-bounded
    if not converged:
        raise RuntimeError(
            f"cluster_labels did not converge within "
            f"{CLUSTER_MAX_ROUNDS} rounds — the near-dup graph has a "
            f"component of diameter > {CLUSTER_MAX_ROUNDS + 1}; raise "
            f"CLUSTER_MAX_ROUNDS (each round is one O(E) join)")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("label"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from cluster_labels: size + sorted members
    per cluster — the step that turns pair queries (minhash/jaccard)
    into an actionable keep/drop list (label = keeper doc_id). Edges
    come from the PRODUCTION verified-pair pipeline (neardup_edges:
    capped LSH candidates -> exact Jaccard), so no shingle self-join
    appears anywhere in this plan."""
    labels = cluster_labels(spark, sf_dir)
    return labels.groupBy("label").agg(
        F.count("*").alias("n_docs"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("members"),
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "ngram_jaccard_pairs_prefix": ngram_jaccard_pairs_prefix,
    "minhash_signatures": minhash_signatures,
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "dedup_minhash_pairs_capped": dedup_minhash_pairs_capped,
    "neardup_flags": neardup_flags,
    "neardup_flags_capped": neardup_flags_capped,
    "dedup_verified_pairs": dedup_verified_pairs,
    "minhash_jaccard_estimate": minhash_jaccard_estimate,
    "simhash": simhash,
    "simhash_neardup_pairs": simhash_neardup_pairs,
    "simhash_neardup_pairs_capped": simhash_neardup_pairs_capped,
    "dedup_clusters": dedup_clusters,
    "cdc_chunks": cdc_chunks,
    "cdc_dup_chunks": cdc_dup_chunks,
    "cdc_dedup_ratio": cdc_dedup_ratio,
    "winnow_fingerprints": winnow_fingerprints,
    "winnow_overlap_pairs": winnow_overlap_pairs,
    "dup_span_stats": dup_span_stats,
    "strip_dup_spans": strip_dup_spans,
}

# hex -> bigint by folding nibbles (DuckDB has no conv())
_HEX2INT = ("list_reduce(list_prepend(cast(0 AS bigint),"
            " list_transform(regexp_split_to_array({expr}, ''),"
            " c -> cast(strpos('0123456789abcdef', c) - 1 AS bigint))),"
            " (acc, v) -> acc * 16 + v)")

# DuckDB twin of the winnowing pipeline: same arithmetic argmin
# encoding, same window min — the selection is engine-portable by
# construction.
_WINNOW_SQL = f"""
    WITH docs0 AS (
        SELECT doc_id, text, length(text) AS n FROM documents
    ),
    grams AS (
        SELECT doc_id, i, n - {WINNOW_K - 1} AS g,
               ({_HEX2INT.format(
                   expr=f"substring(md5(substring(text, cast(i AS int),"
                        f" {WINNOW_K})), 1, 8)")}) AS h8
        FROM docs0, unnest(generate_series(1, n - {WINNOW_K - 1})) AS gs(i)
    ),
    comp AS (
        SELECT doc_id, i, g,
               h8 * {_POS_M} + ({_POS_M} - 1 - i) AS c
        FROM grams
    ),
    wins AS (
        SELECT doc_id, i, g,
               min(c) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW
                            AND {WINNOW_W - 1} FOLLOWING) AS m
        FROM comp
    ),
    sel AS (
        SELECT DISTINCT doc_id,
               cast({_POS_M} - 1 - (m % {_POS_M}) AS int) AS pos,
               cast(m // {_POS_M} AS bigint) AS fp
        FROM wins WHERE i <= g - {WINNOW_W - 1}
    )
"""

# DuckDB twin of the duplicated-span pipeline (dup_span_stats /
# strip_dup_spans): same token list, same 1-based window hashes.
_DUPSPAN_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '{NON_LETTER_RE}'),
                           x -> x <> '') AS ts
        FROM documents
    ),
    tok AS (
        SELECT doc_id, cast(i AS int) AS p, ts[cast(i AS int)] AS tok,
               CASE WHEN i + {DUP_SPAN_K - 1} <= len(ts) THEN
                    md5(array_to_string(
                        ts[cast(i AS int):cast(i + {DUP_SPAN_K - 1} AS int)],
                        ' '))
               END AS whash
        FROM toks, unnest(generate_series(1, len(ts))) AS g(i)
    ),
    cnt AS (
        SELECT whash, count(*) AS c FROM tok
        WHERE whash IS NOT NULL GROUP BY whash
    )
"""

# DuckDB twin of the CDC chunking pipeline (cdc_chunks).
_CDC_CHUNKS_SQL = f"""
    WITH docs0 AS (
        SELECT doc_id, text, length(text) AS n FROM documents
    ),
    bnd AS (
        SELECT doc_id, i
        FROM docs0, unnest(generate_series(2, n - {CDC_K - 1})) AS g(i)
        WHERE ({_HEX2INT.format(
            expr=f"substring(md5(substring(text, cast(i AS int),"
                 f" {CDC_K})), 1, 8)")}) % {CDC_P} = 0
    ),
    bl AS (
        SELECT doc_id, list_sort(list(i)) AS bs FROM bnd GROUP BY doc_id
    ),
    wdocs AS (
        SELECT d.doc_id, d.text, d.n,
               coalesce(b.bs, cast([] AS bigint[])) AS bs
        FROM docs0 d LEFT JOIN bl b USING (doc_id)
    ),
    spans AS (
        SELECT doc_id, text, n, bs,
               unnest(generate_series(1, len(bs) + 1)) AS j
        FROM wdocs
    ),
    bounds AS (
        SELECT doc_id, text, cast(j - 1 AS int) AS chunk_no,
               cast(CASE WHEN j = 1 THEN 1
                    ELSE bs[cast(j - 1 AS int)] END AS int) AS s,
               cast(CASE WHEN j = len(bs) + 1 THEN n
                    ELSE bs[cast(j AS int)] - 1 END AS int) AS e
        FROM spans
    ),
    chunks AS (
        SELECT doc_id, chunk_no, cast(e - s + 1 AS int) AS chunk_len,
               md5(substring(text, s, e - s + 1)) AS chunk_md5,
               substring(text, s, e - s + 1) AS chunk_text
        FROM bounds
    )
"""

_MINHASH_SQL = _SHINGLES_SQL + f""",
    hashed AS (
        SELECT doc_id,
               {_HEX2INT.format(expr="substring(md5(shingle), 1, 14)")} AS a,
               {_HEX2INT.format(expr="substring(md5(shingle), 15, 14)")} AS b
        FROM shingles_all
    ),
    sig AS (
        SELECT doc_id, seed, min((a + seed * b) % {MINHASH_MOD}) AS minhash
        FROM hashed, generate_series(0, {N_MINHASH - 1}) AS s(seed)
        GROUP BY doc_id, seed
    )
"""

# The capped-LSH candidate -> exact-Jaccard pair pipeline as reusable
# CTEs over `sig` (from _MINHASH_SQL) — the DuckDB twin of
# dedup_verified_pairs / neardup_edges' plan.
_VERIFIED_PAIRS_CTES = f""",
    bands AS (
        SELECT doc_id, cast(floor(seed / {LSH_ROWS}.0) AS int) AS band,
               md5(string_agg(cast(minhash AS varchar), ','
                              ORDER BY seed)) AS band_key
        FROM sig GROUP BY 1, 2
    ),
    sized AS (
        SELECT doc_id, band, band_key,
               count(*) OVER (PARTITION BY band, band_key) AS bsz
        FROM bands
    ),
    ok AS (SELECT doc_id, band, band_key FROM sized
           WHERE bsz <= {LSH_BUCKET_CAP}),
    cands AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM ok x JOIN ok y USING (band, band_key)
        WHERE x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles
              GROUP BY doc_id),
    inter AS (
        SELECT c.d1, c.d2, count(*) AS i
        FROM cands c
        JOIN shingles a ON a.doc_id = c.d1
        JOIN shingles b ON b.doc_id = c.d2 AND b.shingle = a.shingle
        GROUP BY c.d1, c.d2
    ),
    jpairs AS (
        SELECT d1, d2,
               {dround_sql('i / (sa.n_sh + sb.n_sh - i)', 6)} AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = d1
        JOIN sizes sb ON sb.doc_id = d2
        WHERE {JACCARD_T_DEN} * i
              >= {JACCARD_T_NUM} * (sa.n_sh + sb.n_sh - i)
    )
"""

# Recursive connected-component labels over the PRODUCTION near-dup
# graph (capped-LSH verified pairs, = neardup_edges) — shared by the
# dedup_clusters oracle and pipeline.corpus_clean; both engines
# cluster the verified pairs, never the quadratic shingle
# self-join.
LABELS_CTE_SQL = _MINHASH_SQL.replace(
    "WITH toks", "WITH RECURSIVE toks") + _VERIFIED_PAIRS_CTES + """,
    edges AS (
        SELECT d1, d2 FROM jpairs
        UNION ALL SELECT d2, d1 FROM jpairs
    ),
    reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.d2 FROM reach r JOIN edges e ON r.dst = e.d1
    ),
    labels AS (
        SELECT src AS doc_id, min(dst) AS label FROM reach GROUP BY src
    )
"""

_SIMHASH_CTE = f"""
    WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf, md5(tok) AS h
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(text, '{NON_LETTER_RE}'))
                         AS tok
              FROM documents)
        WHERE tok <> '' GROUP BY doc_id, tok
    ),
    perbit AS (
        SELECT doc_id, j,
               CASE WHEN sum(tf * (2 * ({_BIT_SQL.format(h='h', j='j')}) - 1)) > 0
                    THEN '1' ELSE '0' END AS bit
        FROM tf, generate_series(0, 63) AS g(j)
        GROUP BY doc_id, j
    ),
    sigs AS (
        SELECT doc_id, string_agg(bit, '' ORDER BY j) AS simhash
        FROM perbit GROUP BY doc_id
    )
"""

ORACLES = {
    "dedup_exact": rf"""
        SELECT md5(lower(trim(regexp_replace(text, '{FP_WS_SQL}', ' ', 'g')))) AS fp,
               count(*) AS n_docs, min(doc_id) AS keeper
        FROM documents GROUP BY fp
    """,
    "ngram_jaccard_pairs": _SHINGLES_SQL + f""",
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM shingles a JOIN shingles b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        )
        SELECT d1, d2,
               {dround_sql('i / (sa.n_sh + sb.n_sh - i)', 6)} AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = d1
        JOIN sizes sb ON sb.doc_id = d2
        WHERE {JACCARD_T_DEN} * i
              >= {JACCARD_T_NUM} * (sa.n_sh + sb.n_sh - i)
    """,
    "minhash_signatures": _MINHASH_SQL + """
        SELECT doc_id, seed, minhash FROM sig
    """,
    "dedup_minhash_pairs": _MINHASH_SQL + f""",
        bands AS (
            SELECT doc_id, cast(floor(seed / {LSH_ROWS}.0) AS int) AS band,
                   md5(string_agg(cast(minhash AS varchar), ','
                                  ORDER BY seed)) AS band_key
            FROM sig GROUP BY 1, 2
        )
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM bands x JOIN bands y USING (band, band_key)
        WHERE x.doc_id < y.doc_id
    """,
    "neardup_flags": _MINHASH_SQL + f""",
        bands AS (
            SELECT doc_id, cast(floor(seed / {LSH_ROWS}.0) AS int) AS band,
                   md5(string_agg(cast(minhash AS varchar), ','
                                  ORDER BY seed)) AS band_key
            FROM sig GROUP BY 1, 2
        ),
        later AS (
            SELECT DISTINCT y.doc_id
            FROM bands x JOIN bands y USING (band, band_key)
            WHERE x.doc_id < y.doc_id
        )
        SELECT d.doc_id, (l.doc_id IS NOT NULL) AS dup
        FROM documents d LEFT JOIN later l ON l.doc_id = d.doc_id
    """,
    "neardup_flags_capped": _MINHASH_SQL + f""",
        bands AS (
            SELECT doc_id, cast(floor(seed / {LSH_ROWS}.0) AS int) AS band,
                   md5(string_agg(cast(minhash AS varchar), ','
                                  ORDER BY seed)) AS band_key
            FROM sig GROUP BY 1, 2
        ),
        ranked AS (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY band, band_key
                                      ORDER BY doc_id) AS rn
            FROM bands
        ),
        later AS (
            SELECT DISTINCT doc_id FROM ranked
            WHERE rn >= 2 AND rn <= {LSH_BUCKET_CAP} + 1
        )
        SELECT d.doc_id, (l.doc_id IS NOT NULL) AS dup
        FROM documents d LEFT JOIN later l ON l.doc_id = d.doc_id
    """,
    "dedup_minhash_pairs_capped": _MINHASH_SQL + f""",
        bands AS (
            SELECT doc_id, cast(floor(seed / {LSH_ROWS}.0) AS int) AS band,
                   md5(string_agg(cast(minhash AS varchar), ','
                                  ORDER BY seed)) AS band_key
            FROM sig GROUP BY 1, 2
        ),
        sized AS (
            SELECT doc_id, band, band_key,
                   count(*) OVER (PARTITION BY band, band_key) AS bsz
            FROM bands
        ),
        ok AS (SELECT doc_id, band, band_key FROM sized
               WHERE bsz <= {LSH_BUCKET_CAP})
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM ok x JOIN ok y USING (band, band_key)
        WHERE x.doc_id < y.doc_id
    """,
    # composed from the SAME CTE chain LABELS_CTE_SQL / the
    # dedup_clusters oracle consume (_VERIFIED_PAIRS_CTES), whose
    # jpairs filter is the exact rational threshold
    # JACCARD_T_DEN*i >= JACCARD_T_NUM*union — identical to the Spark
    # side's _exact_jaccard_tail, so no rounded-J boundary divergence
    # (J in [t-5e-7, t)) can split the engines.
    "dedup_verified_pairs": _MINHASH_SQL + _VERIFIED_PAIRS_CTES + """
        SELECT d1, d2, jaccard FROM jpairs
    """,
    "minhash_jaccard_estimate": _MINHASH_SQL + f""",
        bands AS (
            SELECT doc_id, cast(floor(seed / {LSH_ROWS}.0) AS int) AS band,
                   md5(string_agg(cast(minhash AS varchar), ','
                                  ORDER BY seed)) AS band_key
            FROM sig GROUP BY 1, 2
        ),
        pairs AS (
            SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
            FROM bands x JOIN bands y USING (band, band_key)
            WHERE x.doc_id < y.doc_id
        ),
        agree AS (
            SELECT d1, d2,
                   sum(CASE WHEN s1.minhash = s2.minhash
                            THEN 1 ELSE 0 END) AS n_agree
            FROM pairs
            JOIN sig s1 ON s1.doc_id = d1
            JOIN sig s2 ON s2.doc_id = d2 AND s2.seed = s1.seed
            GROUP BY d1, d2
        )
        SELECT d1, d2, cast(n_agree AS int) AS n_agree,
               {dround_sql(f'n_agree / {N_MINHASH}.0', 6)} AS est_jaccard
        FROM agree
    """,
    "dedup_clusters": LABELS_CTE_SQL + """
        SELECT label, count(*) AS n_docs,
               string_agg(cast(doc_id AS varchar), ',' ORDER BY doc_id)
                   AS members
        FROM labels GROUP BY label
    """,
    "simhash": _SIMHASH_CTE + """
        SELECT doc_id, simhash FROM sigs
    """,
    "simhash_neardup_pairs": _SIMHASH_CTE + f""",
        bands AS (
            SELECT doc_id, simhash,
                   cast(b AS varchar) || ':'
                       || substring(simhash, 1 + 16 * b, 16) AS band_key
            FROM sigs, generate_series(0, {SIMHASH_BANDS - 1}) AS g(b)
        ),
        cands AS (
            SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
                   x.simhash AS s1, y.simhash AS s2
            FROM bands x JOIN bands y USING (band_key)
            WHERE x.doc_id < y.doc_id
        ),
        elems AS (
            SELECT d1, d2,
                   unnest(regexp_split_to_array(s1, '')) AS cx,
                   unnest(regexp_split_to_array(s2, '')) AS cy
            FROM cands
        ),
        ham AS (
            SELECT d1, d2, sum(CASE WHEN cx <> cy THEN 1 ELSE 0 END) AS hamming
            FROM elems GROUP BY d1, d2
        )
        SELECT d1, d2, cast(hamming AS int) AS hamming
        FROM ham WHERE hamming <= {HAMMING_MAX}
    """,
    "cdc_chunks": _CDC_CHUNKS_SQL + """
        SELECT doc_id, chunk_no, chunk_len, chunk_md5 FROM chunks
    """,
    "cdc_dup_chunks": _CDC_CHUNKS_SQL + """
        SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_occurrences,
               cast(min(chunk_len) AS int) AS chunk_len
        FROM chunks GROUP BY chunk_md5
        HAVING count(DISTINCT doc_id) >= 2
    """,
    "cdc_dedup_ratio": _CDC_CHUNKS_SQL + f""",
        ranked AS (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY chunk_md5
                                      ORDER BY doc_id, chunk_no) AS rn
            FROM chunks
        ),
        agg AS (
            SELECT doc_id, count(*) AS n_chunks,
                   sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_dup_chunks
            FROM ranked GROUP BY doc_id
        )
        SELECT doc_id, n_chunks, cast(n_dup_chunks AS bigint) AS n_dup_chunks,
               {dround_sql('n_dup_chunks * 1.0 / n_chunks', 6)} AS dup_ratio
        FROM agg
    """,
    "winnow_fingerprints": _WINNOW_SQL + """
        SELECT doc_id, pos, fp FROM sel
    """,
    "dup_span_stats": _DUPSPAN_SQL + f"""
        SELECT d.doc_id,
               cast(coalesce(per.n_tokens, 0) AS bigint) AS n_tokens,
               cast(coalesce(per.n_windows, 0) AS bigint) AS n_windows,
               cast(coalesce(per.n_dup_windows, 0) AS bigint)
                   AS n_dup_windows,
               CASE WHEN coalesce(per.n_windows, 0) > 0
                    THEN {dround_sql(
                        'per.n_dup_windows * 1.0 / per.n_windows', 6)}
                    ELSE cast(0 AS decimal(18,6)) END AS dup_frac
        FROM documents d
        LEFT JOIN (
            SELECT t.doc_id,
                   count(*) AS n_tokens,
                   count(t.whash) AS n_windows,
                   count(CASE WHEN c.c >= 2 THEN 1 END) AS n_dup_windows
            FROM tok t LEFT JOIN cnt c ON t.whash = c.whash
            GROUP BY t.doc_id
        ) per USING (doc_id)
    """,
    "strip_dup_spans": _DUPSPAN_SQL + f""",
        flagged AS (
            SELECT t.doc_id, t.p, t.tok,
                   CASE WHEN c.c >= 2 THEN 1 ELSE 0 END AS ds
            FROM tok t LEFT JOIN cnt c ON t.whash = c.whash
        ),
        covered AS (
            SELECT doc_id, p, tok,
                   max(ds) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS BETWEEN {DUP_SPAN_K - 1} PRECEDING
                                 AND CURRENT ROW) AS cov
            FROM flagged
        ),
        per AS (
            SELECT doc_id,
                   count(*) AS n_tokens,
                   cast(sum(cov) AS bigint) AS n_removed,
                   coalesce(string_agg(tok, ' ' ORDER BY p)
                            FILTER (cov = 0), '') AS clean_text
            FROM covered GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(per.n_tokens, 0) AS n_tokens,
               coalesce(per.n_removed, 0) AS n_removed,
               coalesce(per.clean_text, '') AS clean_text
        FROM documents d LEFT JOIN per USING (doc_id)
    """,
    "winnow_overlap_pairs": _WINNOW_SQL + f""",
        docfps AS (SELECT DISTINCT doc_id, fp FROM sel),
        sized AS (
            SELECT doc_id, fp,
                   count(*) OVER (PARTITION BY fp) AS fsz
            FROM docfps
        ),
        ok AS (SELECT doc_id, fp FROM sized
               WHERE fsz BETWEEN 2 AND {WINNOW_FP_CAP}),
        pairs AS (
            SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS n_shared
            FROM ok x JOIN ok y USING (fp)
            WHERE x.doc_id < y.doc_id
            GROUP BY 1, 2
        )
        SELECT d1, d2, n_shared FROM pairs
        WHERE n_shared >= {WINNOW_MIN_SHARED}
    """,
    "simhash_neardup_pairs_capped": _SIMHASH_CTE + f""",
        bands AS (
            SELECT doc_id, simhash,
                   cast(b AS varchar) || ':'
                       || substring(simhash, 1 + 16 * b, 16) AS band_key
            FROM sigs, generate_series(0, {SIMHASH_BANDS - 1}) AS g(b)
        ),
        sized AS (
            SELECT doc_id, simhash, band_key,
                   count(*) OVER (PARTITION BY band_key) AS bsz
            FROM bands
        ),
        ok AS (SELECT doc_id, simhash, band_key FROM sized
               WHERE bsz <= {SIMHASH_BUCKET_CAP}),
        cands AS (
            SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
                   x.simhash AS s1, y.simhash AS s2
            FROM ok x JOIN ok y USING (band_key)
            WHERE x.doc_id < y.doc_id
        ),
        elems AS (
            SELECT d1, d2,
                   unnest(regexp_split_to_array(s1, '')) AS cx,
                   unnest(regexp_split_to_array(s2, '')) AS cy
            FROM cands
        ),
        ham AS (
            SELECT d1, d2, sum(CASE WHEN cx <> cy THEN 1 ELSE 0 END) AS hamming
            FROM elems GROUP BY d1, d2
        )
        SELECT d1, d2, cast(hamming AS int) AS hamming
        FROM ham WHERE hamming <= {HAMMING_MAX}
    """,
}

# the prefix-filtered form computes the identical pair set
ORACLES["ngram_jaccard_pairs_prefix"] = ORACLES["ngram_jaccard_pairs"]
