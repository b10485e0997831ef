"""Corpus-hygiene operators: Bloom-filter decontamination, CCNet-style
boilerplate line removal, a one-pass least-squares quality probe, and
URL canonicalization + dedup.

Reference analog: none — the reference (s09g/mapreduce-go, mr/ +
mrapps/, 1,020 LoC) stops at wc-style token streams
(/root/reference/mrapps/wc.go:21-34); these are the cleaning passes a
100 TB pre-training pipeline runs before anything in quality.py or
dedup.py sees the data.

Scale posture per family:
- bloom_decontaminate: the Bloom filter is the SCALE PATH of the exact
  broadcast semi-join in quality.decontaminate — the broadcast payload
  is O(BLOOM_M bits) REGARDLESS of eval-set size (an exact shingle set
  grows with the benchmark suite; the filter does not). Build is one
  distinct over eval shingle bits; probe is mapper-only against the
  broadcast bit set. Completes the mergeable-sketch trio
  (CMS = frequency, HLL = cardinality, Bloom = membership).
- boilerplate lines: one exchange of (doc, line) pairs into the
  corpus-frequency count, one join back on the line key, one per-doc
  reassembly — the CCNet paragraph-dedup shape (Wenzek et al. 2020
  dedup by line frequency). No collect_list on the LINE key (a
  boilerplate line appears in millions of docs at scale; the only
  collect is per-DOC, bounded by document length like strip_dup_spans).
- quality_probe: the normal-equations pattern — ONE aggregation pass
  reduces the corpus to 14 sufficient-statistic scalars (map-side
  combinable, constant state), the 4x4 solve happens on the driver in
  exact rational arithmetic, and scoring is a mapper-only broadcast of
  4 float literals. This is how a linear quality model fits on 100 TB:
  the shuffle carries 14 numbers, not data.
- url ops: mapper-only canonicalization (regex in one codegen stage);
  dedup is a single groupBy on the canonical key.

Determinism: Bloom bits use the md5 hex-fold discipline of
quality._cms_bucket (pure function of the string in both engines);
probe weights come from exact integer statistics solved in
Fraction arithmetic, so both engines score with bit-identical float
literals; ratios round on the decimal grid (functions.num.dround).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.functions.num import dround, dround_sql, grid
from mapreduce_go_spark.functions.text import NON_LETTER_RE, token_rows
from mapreduce_go_spark.operators.quality import (
    DECON_EVAL_MOD,
    DECON_N,
    _DECON_SHINGLES_CTES,
    _TOKS_SQL,
    _grams_sql,
    _toks,
    decon_shingles_df,
    eval_shingles_table,
)

# ---------------------------------------------------------------- #
# Bloom-filter decontamination (membership sketch)                  #
# ---------------------------------------------------------------- #

# 32768 bits / 3 hashes: at the sf0.01 eval-shingle count (~1.5k) the
# fill is ~0.13 and the false-positive rate ~0.2% — small but nonzero,
# so the one-sided-error path is exercised by real FP rows, and at
# sf0.1 (~14k shingles) the filter is loaded (~0.72) but not
# saturated. At production scale M is sized to the benchmark suite
# once (it is a constant broadcast: 4 KiB here, still only MiB for
# billions of eval shingles at the same FP rate).
BLOOM_M = 32768
BLOOM_K = 3
BLOOM_WORDS = BLOOM_M // 64  # the same bitmap packed 64 bits/long


def _bloom_bit(col: Column, k: int) -> Column:
    """Bit index for hash k: md5('bloom{k}:' || s) first-8-hex % M —
    the same hex-fold discipline as quality's CMS/feature-hash."""
    return (
        F.conv(F.substring(
            F.md5(F.concat(F.lit(f"bloom{k}:"), col)), 1, 8), 16, 10)
        .cast("long") % BLOOM_M
    )


def _bloom_bit_sql(expr: str, k: int) -> str:
    return (
        "(list_reduce(list_prepend(cast(0 AS bigint),"
        " list_transform(regexp_split_to_array(substring(md5("
        f"'bloom{k}:' || {expr}), 1, 8), ''),"
        " c -> cast(strpos('0123456789abcdef', c) - 1 AS bigint))),"
        f" (acc, v) -> acc * 16 + v) % {BLOOM_M})"
    )


def _bloom_bit_rows(ev: DataFrame) -> DataFrame:
    """(bit): one row per (shingle, hash) bit index — the shared
    prefix of the sorted-set and packed-word filter forms."""
    return ev.select(F.explode(F.array(
        *[_bloom_bit(F.col("shingle"), k) for k in range(BLOOM_K)]
    )).alias("bit"))


def bloom_filter_bits(ev: DataFrame) -> DataFrame:
    """The filter as a 1-row relation holding the sorted set-bit
    array (<= BLOOM_M ints — the exact content of the bitmap, so the
    oracle checks the FILTER itself, not just downstream verdicts).
    Mergeable: the bit SET of a union of shards is the union of their
    bit sets (Bloom's defining property), so partial aggregation is
    just distinct-union — collect_set here is bounded by BLOOM_M, not
    by eval size."""
    return _bloom_bit_rows(ev).agg(
        F.sort_array(F.collect_set("bit")).alias("bits"),
        F.count_distinct("bit").alias("n_set"),
    )


def bloom_packed_words(bits: DataFrame) -> DataFrame:
    """The SAME bitmap as bloom_filter_bits, as a 1-row relation of
    BLOOM_WORDS longs (64 bits/word) — the representation a probe
    reads in O(1) (element_at + AND) instead of array_contains's
    linear scan of the set-bit array. r16: the linear probe was ~1.0 s
    of bloom_decontaminate's 1.4 s at sf0.1 (3 probes x 237k train
    shingles x 22.8k set bits); at a production-sized M the packed
    form is the only viable one (a real filter is a bitset, the
    sorted-set array is the ORACLE-inspectable twin). Mergeable like
    the set form: bit_or of word vectors = union of bit sets. Input:
    any (bit) relation."""
    words = (
        bits.groupBy((F.col("bit") / 64).cast("int").alias("w"))
        .agg(F.expr("bit_or(shiftleft(cast(1 as bigint),"
                    " cast(bit % 64 as int)))").alias("word"))
    )
    return (
        words.agg(F.map_from_entries(
            F.collect_list(F.struct("w", "word"))).alias("m"))
        .select(F.expr(
            f"transform(sequence(0, {BLOOM_WORDS - 1}),"
            " i -> coalesce(m[i], cast(0 as bigint)))").alias("words"))
    )


def bloom_maybe_sql(expr: str) -> str:
    """Spark-SQL membership test of `expr`'s BLOOM_K bits against the
    broadcast packed `words` column — truth-value identical to
    array_contains over the sorted set-bit array by construction (bit
    b is set iff word b div 64 has bit b % 64; pinned against the
    array_contains form in tests/test_corpus.py). The bit index is the
    Spark-SQL twin of _bloom_bit; its repeated md5 subtree is
    eliminated by codegen CSE.

    CONTRACT (ADVICE r16): `expr` is interpolated VERBATIM into raw
    SQL — pass a plain identifier or an expression that is already
    valid Spark SQL in the consumer's scope. A quoted/reserved or
    computed column name must be backtick-quoted by the CALLER; this
    helper does not parse or escape (current internal callers pass
    the literal column name 'shingle')."""
    terms = []
    for k in range(BLOOM_K):
        b = (f"(cast(conv(substring(md5('bloom{k}:' || {expr}), 1, 8),"
             f" 16, 10) as bigint) % {BLOOM_M})")
        terms.append(
            f"((element_at(words, cast({b} div 64 as int) + 1)"
            f" & shiftleft(cast(1 as bigint), cast({b} % 64 as int)))"
            " != 0)")
    return "(" + " AND ".join(terms) + ")"


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage screen via a Bloom filter — the constant-size
    broadcast twin of quality.decontaminate's exact shingle semi-join.

    Per train doc: shingle count, Bloom "maybe" hits, exact hits (the
    ground truth rides along through the same broadcast eval set the
    exact query uses), false-positive count, and the per-doc soundness
    verdict (a Bloom filter admits false positives, NEVER false
    negatives — n_missed below is identically 0, asserted per row and
    again in tests). Probe is mapper-only: BLOOM_K O(1) word tests
    against the broadcast packed bitmap inside one codegen stage
    (r16: was array_contains over the sorted set-bit array — a linear
    scan per probe that cost ~1.0 s of the query's 1.4 s at sf0.1;
    see bloom_packed_words)."""
    docs = tables.load(spark, sf_dir, "documents")
    # ev feeds TWO lineages (the bit build and the exact-hit join) —
    # unpersisted, the eval-side documents scan + shingle explode +
    # distinct ran twice per query (r14 review; the double-scan class
    # ADVICE r10 removed from hll_distinct_by_source). The r14
    # .persist() had no matching unpersist and leaked one cached
    # relation per CALL for the session lifetime (ADVICE r14), so the
    # shared scan is now a session-materialized parquet instead: one
    # derivation per (session, sf_dir), a plain scan per lineage, no
    # cache handle to leak.
    ev = eval_shingles_table(spark, sf_dir)
    filt = bloom_packed_words(_bloom_bit_rows(ev))
    train = decon_shingles_df(
        docs.where(F.col("doc_id") % DECON_EVAL_MOD != 0))
    probed = (
        train.crossJoin(F.broadcast(filt))
        .join(F.broadcast(ev.withColumn("is_eval", F.lit(1))),
              "shingle", "left")
        .selectExpr(
            "doc_id",
            f"cast({bloom_maybe_sql('shingle')} as int) as maybe",
            "coalesce(is_eval, 0) as is_eval",
        )
    )
    verdicts = (
        probed.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("maybe").alias("bloom_hits"),
            F.sum("is_eval").alias("exact_hits"),
            F.sum(((F.col("is_eval") == 1) & (F.col("maybe") == 0))
                  .cast("int")).alias("n_missed"),
        )
        .select(
            "doc_id", "n_shingles", "bloom_hits", "exact_hits",
            (F.col("bloom_hits") - F.col("exact_hits"))
            .alias("n_false_pos"),
            (F.col("n_missed") == 0).alias("sound"),
        )
    )
    # Membership invariant (r14 review, the r10 cleaning-family rule):
    # a train doc with fewer than DECON_N tokens has zero shingles and
    # silently vanished from the screen — a downstream inner join on
    # the verdict would drop a doc that provably contains no leakage.
    # Join back with zero-filled counts and sound=true.
    train_ids = docs.where(
        F.col("doc_id") % DECON_EVAL_MOD != 0).select("doc_id")
    zero = F.lit(0).cast("long")
    return (
        train_ids.join(verdicts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", zero).alias("n_shingles"),
            F.coalesce("bloom_hits", zero).alias("bloom_hits"),
            F.coalesce("exact_hits", zero).alias("exact_hits"),
            F.coalesce("n_false_pos", zero).alias("n_false_pos"),
            F.coalesce("sound", F.lit(True)).alias("sound"),
        )
    )


# ---------------------------------------------------------------- #
# CCNet-style boilerplate line removal                               #
# ---------------------------------------------------------------- #

# The fixture corpus is a flat token stream, so "lines" are
# deterministic LINE_W-token chunks (the oracle builds the identical
# chunks), and boilerplate is GRAFTED the way quality.py grafts PII:
# two synthetic footer lines appended to doc_id % 3 == 0 and
# doc_id % 2 == 0 docs, so the frequency threshold has real mass to
# find while natural 12-token chunks stay (essentially) unique.
LINE_W = 12
BOILER_MIN_DOCS = 5
BOILER_A = "subscribe to our newsletter for daily updates"
BOILER_B = "all rights reserved by the publisher"


def _doc_lines(doc_id: Column, text: Column) -> Column:
    """Token-chunk lines + grafted boilerplate, as one array column
    (no shuffle: in-row sequence/slice assembly, the _grams idiom)."""
    ts = _toks(text)
    n = F.ceil(F.size(ts) / F.lit(float(LINE_W))).cast("int")
    nat = F.when(
        F.size(ts) > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.array_join(
                F.slice(ts, i * LINE_W + 1, LINE_W), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    empty = F.array().cast("array<string>")
    return F.concat(
        nat,
        F.when(doc_id % 3 == 0,
               F.array(F.lit(BOILER_A))).otherwise(empty),
        F.when(doc_id % 2 == 0,
               F.array(F.lit(BOILER_B))).otherwise(empty),
    )


def _lines_exploded(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, line) — one row per line."""
    return tables.spread(docs).select(
        "doc_id",
        F.posexplode(_doc_lines(F.col("doc_id"), F.col("text")))
        .alias("pos", "line"),
    )


def _boiler_lines(lines: DataFrame) -> DataFrame:
    """Corpus-frequency relation: line -> distinct-doc count, flagged
    at the CCNet threshold. This is the ONLY corpus-wide state and it
    is an aggregate (no line's member list is ever materialized —
    a footer shared by 10^8 docs is still one counter row)."""
    return (
        lines.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .withColumn("boiler", F.col("n_docs") >= BOILER_MIN_DOCS)
    )


def _flagged_lines(spark: SparkSession, sf_dir: str
                   ) -> tuple[DataFrame, DataFrame]:
    """(docs, per-line rows joined to their corpus boiler flag) — the
    shared preamble of the stats and strip halves (review r10: it was
    copy-pasted in both; a threshold or join-key change now lands
    once)."""
    docs = tables.load(spark, sf_dir, "documents")
    lines = _lines_exploded(docs)
    flagged = lines.join(_boiler_lines(lines).select("line", "boiler"),
                         "line")
    return docs, flagged


def boilerplate_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate exposure: line count, lines whose corpus
    document-frequency >= BOILER_MIN_DOCS, and the boilerplate
    fraction — the detect half of CCNet line-level dedup. Every input
    doc gets a row: a doc with zero extractable lines reports
    (0, 0, 0.0) instead of vanishing (review r10 — the cleaning
    family must never change corpus membership)."""
    docs, flagged = _flagged_lines(spark, sf_dir)
    per = (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("boiler").cast("int")).alias("n_boiler"),
        )
    )
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
        F.when(F.col("n_lines") > 0,
               dround(F.col("n_boiler") / F.col("n_lines"), 6))
        .otherwise(F.lit(0.0)).alias("boiler_frac"),
    )


def strip_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strip half: corpus-frequent lines removed, survivors
    reassembled in order. The only collect_list is per-DOC (bounded by
    document length — the strip_dup_spans discipline); the line-key
    side stays aggregate-only."""
    docs, flagged = _flagged_lines(spark, sf_dir)
    per = (
        flagged.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "line", "boiler"))
            ).alias("ls"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.filter(F.col("ls"), lambda s: ~s["boiler"]),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.size(F.filter(F.col("ls"), lambda s: ~s["boiler"]))
            .alias("n_kept"),
            F.size(F.filter(F.col("ls"), lambda s: s["boiler"]))
            .alias("n_stripped"),
        )
    )
    # left-join-back: a zero-line doc must survive the strip as
    # ('', 0, 0), not vanish from the cleaned corpus (review r10)
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("n_stripped", F.lit(0)).alias("n_stripped"),
    )


# ---------------------------------------------------------------- #
# One-pass least-squares quality probe (normal equations)            #
# ---------------------------------------------------------------- #


def _probe_features(docs: DataFrame) -> DataFrame:
    """Integer per-doc features (all exact in both engines): token
    count, total token characters, distinct token count. Target y is
    the document's 'a'-character count — deliberately NOT a linear
    image of the features (n_chars would be: space-joined tokens make
    n_chars = x2 + x1 - 1 exactly, a vacuous zero-residual fit), so
    the model has genuine residual structure to report.

    spread(): the per-row transform/aggregate/array_distinct work over
    up-to-1024-token arrays is the map-heavy shape the single-split
    fixture serializes onto one task — and quality_probe evaluates
    this relation TWICE (stats collect + scoring plan), so the
    missing spread cost double (review r10; _lines_exploded and the
    unigram tokenizer already spread for the same reason)."""
    ts = _toks(F.col("text"))
    return tables.spread(docs).select(
        "doc_id",
        F.size(ts).alias("x1"),
        F.aggregate(
            F.transform(ts, lambda t: F.length(t)),
            F.lit(0), lambda a, b: a + b,
        ).alias("x2"),
        F.size(F.array_distinct(ts)).alias("x3"),
        (F.length("text")
         - F.length(F.translate(F.col("text"), "a", ""))).alias("y"),
    )


_PROBE_FEATURES_SQL = f"""
    SELECT doc_id,
           len(ts) AS x1,
           coalesce(list_sum(list_transform(ts, t -> length(t))), 0)
               AS x2,
           len(list_distinct(ts)) AS x3,
           length(text) - length(translate(text, 'a', '')) AS y
    FROM (SELECT doc_id, text, {_TOKS_SQL} AS ts FROM documents)
"""


def _solve_frac(A: list[list[int]], b: list[int]) -> list[Fraction]:
    """Exact Gaussian elimination with partial pivoting over Fraction.
    4x4 — driver-side, O(1). Raises on a singular system (the fixture
    features are full-rank; a production caller ridges the diagonal)."""
    n = len(b)
    M = [[Fraction(A[i][j]) for j in range(n)] + [Fraction(b[i])]
         for i in range(n)]
    for col in range(n):
        piv = max(range(col, n), key=lambda r: abs(M[r][col]))
        if M[piv][col] == 0:
            raise ValueError("singular normal equations")
        M[col], M[piv] = M[piv], M[col]
        for r in range(n):
            if r != col and M[r][col] != 0:
                f = M[r][col] / M[col][col]
                M[r] = [a - f * c for a, c in zip(M[r], M[col])]
    return [M[i][n] / M[i][i] for i in range(n)]


def _probe_weights_from_stats(s: dict[str, int]) -> list[float]:
    """Normal-equations solve (shared by the Spark query and the
    oracle twin, so both score with bit-identical float literals —
    the differential still checks both engines' feature extraction,
    statistics, and scoring arithmetic independently)."""
    A = [
        [s["n"], s["s1"], s["s2"], s["s3"]],
        [s["s1"], s["s11"], s["s12"], s["s13"]],
        [s["s2"], s["s12"], s["s22"], s["s23"]],
        [s["s3"], s["s13"], s["s23"], s["s33"]],
    ]
    b = [s["sy"], s["s1y"], s["s2y"], s["s3y"]]
    return [float(w) for w in _solve_frac(A, b)]


_DEC = "decimal(38,0)"


def quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality model fit + scores in one job — the
    normal-equations pattern for distributed least squares.

    Pass 1 reduces the corpus to 14 exact sufficient statistics
    (decimal(38,0) sums of integer features: overflow-proof at any
    scale, map-side combinable, 14 scalars over the wire). The 4x4
    solve runs driver-side in exact Fraction arithmetic — the
    bounded driver action here is collecting ONE row of 14 numbers,
    the same shape at 100 TB. Pass 2 scores every doc mapper-only
    with the 4 broadcast weight literals.

    Output: per-doc features, target, prediction, residual (the
    model's quality signal: how far a doc sits from the corpus
    trend)."""
    docs = tables.load(spark, sf_dir, "documents")
    feats = _probe_features(docs)
    d = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    stats_row = feats.agg(
        F.count("*").alias("n"),
        F.sum(d("x1")).alias("s1"),
        F.sum(d("x2")).alias("s2"),
        F.sum(d("x3")).alias("s3"),
        F.sum(d("x1") * d("x1")).alias("s11"),
        F.sum(d("x1") * d("x2")).alias("s12"),
        F.sum(d("x1") * d("x3")).alias("s13"),
        F.sum(d("x2") * d("x2")).alias("s22"),
        F.sum(d("x2") * d("x3")).alias("s23"),
        F.sum(d("x3") * d("x3")).alias("s33"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x1") * d("y")).alias("s1y"),
        F.sum(d("x2") * d("y")).alias("s2y"),
        F.sum(d("x3") * d("y")).alias("s3y"),
    ).collect()[0]  # allow-bounded-collect: 14 scalars (normal equations)
    if stats_row["n"] == 0:
        # the sums aggregate to NULL on an empty corpus; int(None)
        # would raise an opaque TypeError before the documented
        # singular-system ValueError could fire (review r10)
        raise ValueError("quality_probe: empty documents table")
    s = {k: int(stats_row[k]) for k in stats_row.asDict()}
    w0, w1, w2, w3 = _probe_weights_from_stats(s)
    # left-to-right double arithmetic; identical literal order in the
    # oracle, so the doubles match bit-for-bit. Output lands on the
    # 1e-6 integer grid (functions.num.grid's proven cross-engine
    # rounding), NOT dround: a full-precision prediction can put its
    # shortest decimal repr exactly on a 7th-decimal midpoint, where
    # the decimal(18,6) CAST rounds HALF_UP in Spark but on the
    # binary value in DuckDB — grid()'s half-integer argument is
    # exactly representable, so both engines see the same midpoint.
    pred = (F.lit(w0) + F.lit(w1) * F.col("x1")
            + F.lit(w2) * F.col("x2") + F.lit(w3) * F.col("x3"))
    return feats.select(
        "doc_id", "x1", "x2", "x3", "y",
        grid(pred, 10**6).alias("pred_micro"),
        grid(F.col("y") - pred, 10**6).alias("resid_micro"),
    )


def _probe_oracle_lazy() -> str | None:
    """LAZY oracle: the twin recomputes the sufficient statistics in
    DuckDB (exact hugeint sums of the same integer features), solves
    the same Fraction system, and embeds the identical weight
    literals; per-row extraction + scoring then run independently in
    DuckDB. Any failure degrades to the rows-only check."""
    import os

    import duckdb

    sf_dir = tables.oracle_sf_dir()
    try:
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{os.path.join(sf_dir, 'documents.parquet')}'")
        row = con.execute(f"""
            WITH f AS ({_PROBE_FEATURES_SQL})
            SELECT count(*) AS n,
                   sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3,
                   sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
                   sum(x1 * x3) AS s13, sum(x2 * x2) AS s22,
                   sum(x2 * x3) AS s23, sum(x3 * x3) AS s33,
                   sum(y) AS sy, sum(x1 * y) AS s1y,
                   sum(x2 * y) AS s2y, sum(x3 * y) AS s3y
            FROM f
        """).fetchone()
        names = ["n", "s1", "s2", "s3", "s11", "s12", "s13",
                 "s22", "s23", "s33", "sy", "s1y", "s2y", "s3y"]
        s = {k: int(v) for k, v in zip(names, row)}
        w0, w1, w2, w3 = _probe_weights_from_stats(s)
    except Exception:
        return None
    pred = f"({w0!r} + {w1!r} * x1 + {w2!r} * x2 + {w3!r} * x3)"
    return f"""
        WITH f AS ({_PROBE_FEATURES_SQL})
        SELECT doc_id,
               cast(x1 AS bigint) AS x1, cast(x2 AS bigint) AS x2,
               cast(x3 AS bigint) AS x3, cast(y AS bigint) AS y,
               cast(round({pred} * 1000000) AS bigint) AS pred_micro,
               cast(round((y - {pred}) * 1000000) AS bigint)
                   AS resid_micro
        FROM f
    """


# ---------------------------------------------------------------- #
# URL canonicalization + dedup                                       #
# ---------------------------------------------------------------- #

# URLs are grafted deterministically from doc_id (the PII-graft
# pattern): mixed-case scheme/host, default port, optional trailing
# slash, tracking params, optional fragment — every messy form the
# canonicalizer must collapse. (doc_id % 5) x (% 11) x (% 2) leaves
# ~110 canonical groups over 500 docs, so dedup has real mass.
def _url_spark() -> Column:
    """Grafted URL (lazy: Column construction needs a live session,
    and modules import Spark-free for oracle collection)."""
    return F.concat(
        F.lit("HTTPS://WWW.Example"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".COM:443/Path/"), (F.col("doc_id") % 11).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("?utm_source=feed&utm_campaign=c"),
                     (F.col("doc_id") % 7).cast("string"),
                     F.lit("&id="), (F.col("doc_id") % 11).cast("string")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("#sec"),
                        (F.col("doc_id") % 4).cast("string")))
        .otherwise(F.lit("")),
    )

_URL_SQL = """(
    'HTTPS://WWW.Example' || (doc_id % 5) || '.COM:443/Path/'
    || (doc_id % 11)
    || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 2 = 0 THEN
           '?utm_source=feed&utm_campaign=c' || (doc_id % 7)
           || '&id=' || (doc_id % 11)
       ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN '#sec' || (doc_id % 4)
       ELSE '' END
)"""


def _canonical_url(url: Column) -> Column:
    """Scheme+host lowercased, www. and default ports stripped,
    fragment dropped, utm_* tracking params removed, dangling ?/& and
    trailing path slashes cleaned. Decomposed extract-then-rebuild (no
    regex backreferences — Java and RE2 disagree on $1 vs \\1).

    Invariant (hypothesis-pinned, test_properties.py): idempotent —
    canon(canon(u)) == canon(u) — and Spark == DuckDB on the fuzzed
    scheme/host/port/path/query/fragment domain. Hence /+$ not /$
    (a //-terminated path used to need two passes), and the utm strip
    is anchored at a param boundary in three backreference-free
    passes (&-anchored global, then the ?-anchored head with and
    without a successor) so 'xutm_a=1' keys and 'next=utm_a=1' values
    survive (r11 fuzz findings)."""
    nofrag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, r"^([A-Za-z]+)://", 1))
    host = F.lower(
        F.regexp_extract(nofrag, r"^[A-Za-z]+://([^/?#]*)", 1))
    host = F.regexp_replace(host, r":(443|80)$", "")
    # (www\.)+ not www\.: a single-prefix strip is NOT idempotent on
    # stacked real-crawl hosts like www.www.example.com (r14 review,
    # reproduced live against the hypothesis invariant)
    host = F.regexp_replace(host, r"^(www\.)+", "")
    path = F.regexp_extract(nofrag, r"^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(nofrag, r"(\?[^#]*)", 1)
    # (?i): UTM_Source= survives a case-sensitive pattern while the
    # canonicalizer case-folds scheme/host — tracking params are
    # case-insensitive in the wild (review r10)
    query = F.regexp_replace(query, r"(?i)&utm_[a-z]+=[^&#]*", "")
    query = F.regexp_replace(query, r"(?i)^\?utm_[a-z]+=[^&#]*&", "?")
    query = F.regexp_replace(query, r"(?i)^\?utm_[a-z]+=[^&#]*$", "")
    query = F.regexp_replace(query, r"[?&]+$", "")
    return F.concat(scheme, F.lit("://"), host, path, query)


def _canonical_url_sql(url: str) -> str:
    return f"""(
        lower(regexp_extract({url}, '^([A-Za-z]+)://', 1)) || '://'
        || regexp_replace(regexp_replace(lower(regexp_extract(
               regexp_replace({url}, '#.*$', ''),
               '^[A-Za-z]+://([^/?#]*)', 1)),
               ':(443|80)$', ''), '^(www\\.)+', '')
        || regexp_replace(regexp_extract(
               regexp_replace({url}, '#.*$', ''),
               '^[A-Za-z]+://[^/?#]*([^?#]*)', 1), '/+$', '')
        || regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_extract(
                   regexp_replace({url}, '#.*$', ''), '(\\?[^#]*)', 1),
                   '(?i)&utm_[a-z]+=[^&#]*', '', 'g'),
               '(?i)^\\?utm_[a-z]+=[^&#]*&', '?'),
               '(?i)^\\?utm_[a-z]+=[^&#]*$', ''), '[?&]+$', '')
    )"""


def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc raw and canonical URL — mapper-only (one codegen stage
    of regex ops; at scale this runs at scan speed with zero
    exchange)."""
    docs = tables.load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _url_spark().alias("url"),
        _canonical_url(_url_spark()).alias("canonical_url"),
    )


def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-style URL dedup: group on the canonical form, keep the
    smallest doc_id (deterministic keeper), count the collapsed
    variants — a single groupBy on the canonical key (the canonical
    string is the shuffle key; no doc content moves)."""
    docs = tables.load(spark, sf_dir, "documents")
    canon = docs.select(
        "doc_id", _canonical_url(_url_spark()).alias("canonical_url"))
    return canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keeper_doc"),
        F.count("*").alias("n_dups"),
    )



# ---------------------------------------------------------------- #
# Unigram log-likelihood (perplexity-style) quality filter           #
# ---------------------------------------------------------------- #

# CCNet's second filtering stage scores documents with a language
# model and keeps the low-perplexity head; the distributed shape is
# identical with the simplest LM that has no training loop — the
# corpus unigram model. NLL threshold calibrated near the fixture
# median so both keep and drop paths carry mass.
NLL_KEEP_MAX_MICRO = 3_401_000  # ~fixture median: keep ~half


def unigram_logprob_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc negative mean log-likelihood under the corpus unigram
    model, with the CCNet-style keep-the-head verdict.

    Plan shape: one token shuffle builds the per-doc tf posting
    relation (r16 — see below; the SHAPE scales, but the in-query
    localCheckpoint of tf does not — see the scale caveat at the
    checkpoint site), the unigram counts and the
    corpus-total broadcast scalar derive from it (Zipf-bounded:
    |vocab| << corpus), postings join counts ON THE TOKEN KEY
    (shuffle join — the vocab side is too big to assume broadcast at
    scale, AQE may still choose it when small), and the per-doc
    reduce is a sum of exact tf-weighted per-token micro-nat
    integers: sum over occurrences of g == sum over distinct tokens
    of tf*g, exact int64 arithmetic either way.

    Determinism: ln() is the correctly-rounded libm call the green
    BM25/tfidf queries already rely on; each token's
    ln(total/count) lands on the 1e-6 integer grid (functions.num
    .grid parity proof), so the per-doc SUM is exact int64
    arithmetic — no double accumulation anywhere."""
    docs = tables.load(spark, sf_dir, "documents")
    tok = token_rows(tables.spread(docs), "doc_id")
    # r16: the tf posting relation feeds three lineages (unigram
    # counts, the corpus total via counts, the scoring join's probe
    # side) — lazily materialized once instead of re-tokenizing the
    # corpus per consumer (the bm25 posting-list discipline; the
    # occurrence-stream join this replaces carried one row per token
    # instead of per distinct (doc, tok) and scanned documents 4x:
    # 8 scans/20 Exchange -> 2/14, 1.07 -> 0.84 s interleaved
    # min-of-4 at sf0.1, value-identical — the non-checkpointed tf
    # form measured 1.25 s, i.e. the restructure only pays WITH the
    # materialization, matching the >=3-consumer rule).
    #
    # SCALE CAVEAT (ADVICE r16): tf is O(distinct (doc, tok)) — a
    # CORPUS-scale relation, unlike this module's other checkpoints
    # (vocab-, bin- or edge-bounded). localCheckpoint is
    # non-fault-tolerant: at 100 TB an executor loss makes the blocks
    # unrecoverable and fails the query, and the blocks stay pinned
    # until driver-side GC. A production deployment of this plan
    # shape materializes tf as a RELIABLE artifact instead (write the
    # posting relation to the warehouse and read it back — the bm25
    # index-build analog) or recomputes it; the in-query
    # localCheckpoint is the fixture-scale stand-in for that
    # materialization, not the 100 TB recipe itself.
    tf = (tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=False))
    counts = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    lnval = F.log(F.col("total").cast("double") / F.col("cnt"))
    per_tok = (
        tf.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "tf", grid(lnval, 10**6).alias("nat_micro"))
    )
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("nat_micro")).alias("sum_micro"),
    )
    nll = F.round(F.col("sum_micro") / F.col("n_tokens")).cast("long")
    scored = per_doc.select(
        "doc_id", "n_tokens",
        nll.alias("nll_micro"),
        (nll <= NLL_KEEP_MAX_MICRO).alias("keep_head"),
    )
    # Membership invariant (the r10 cleaning-family rule, extended
    # here by the r14 review): a doc with ZERO letter tokens has no
    # per_tok rows, so without the join-back it silently vanished
    # from the verdict relation — and a downstream inner join on the
    # verdict would drop it from the corpus unjudged. Unjudgeable
    # docs keep an explicit row: n_tokens 0, NULL score, keep_head
    # true (the filter never judged them; dropping is a judgment).
    return (
        tables.load(spark, sf_dir, "documents").select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long")
            .alias("n_tokens"),
            "nll_micro",
            F.coalesce("keep_head", F.lit(True)).alias("keep_head"),
        )
    )


# ---------------------------------------------------------------- #
# registry                                                           #
# ---------------------------------------------------------------- #

QUERIES = {
    "bloom_decontaminate": bloom_decontaminate,
    "boilerplate_line_stats": boilerplate_line_stats,
    "strip_boilerplate_lines": strip_boilerplate_lines,
    "quality_probe": quality_probe,
    "url_canonicalize": url_canonicalize,
    "url_dedup": url_dedup,
    "unigram_logprob_filter": unigram_logprob_filter,
}

LAZY_ORACLES = {"quality_probe": _probe_oracle_lazy}

# the toks/sh derivation is quality._DECON_SHINGLES_CTES — ONE copy
# shared with the exact decontaminate oracle it twins (r14 review)
_SHINGLES_SQL = _DECON_SHINGLES_CTES

_LINES_SQL = f"""
    toks AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
    nat AS (
        SELECT doc_id,
               CASE WHEN len(ts) > 0 THEN
                   list_transform(generate_series(0,
                       cast(ceil(len(ts) / {float(LINE_W)}) AS int) - 1),
                       i -> array_to_string(
                           ts[i * {LINE_W} + 1 : i * {LINE_W} + {LINE_W}],
                           ' '))
               ELSE []::varchar[] END AS ls
        FROM toks
    ),
    docl AS (
        SELECT doc_id,
               list_concat(list_concat(ls,
                   CASE WHEN doc_id % 3 = 0 THEN ['{BOILER_A}']
                        ELSE []::varchar[] END),
                   CASE WHEN doc_id % 2 = 0 THEN ['{BOILER_B}']
                        ELSE []::varchar[] END) AS ls
        FROM nat
    ),
    lines AS (
        SELECT doc_id, r['pos'] - 1 AS pos, r['line'] AS line
        FROM (SELECT doc_id,
                     unnest(list_transform(ls,
                         (x, i) -> {{'pos': i, 'line': x}})) AS r
              FROM docl)
    ),
    boiler AS (
        SELECT line,
               count(DISTINCT doc_id) >= {BOILER_MIN_DOCS} AS boiler
        FROM lines GROUP BY line
    ),
    flagged AS (
        SELECT lines.doc_id, lines.pos, lines.line, boiler.boiler
        FROM lines JOIN boiler USING (line)
    )
"""

ORACLES = {
    "bloom_decontaminate": f"""
        WITH {_SHINGLES_SQL},
        ev AS (
            SELECT DISTINCT shingle FROM sh
            WHERE doc_id % {DECON_EVAL_MOD} = 0
        ),
        bits AS (
            SELECT DISTINCT bit FROM (
                SELECT {_bloom_bit_sql('shingle', 0)} AS bit FROM ev
                UNION ALL
                SELECT {_bloom_bit_sql('shingle', 1)} FROM ev
                UNION ALL
                SELECT {_bloom_bit_sql('shingle', 2)} FROM ev
            )
        ),
        train AS (
            SELECT doc_id, shingle FROM sh
            WHERE doc_id % {DECON_EVAL_MOD} <> 0
        ),
        probed AS (
            SELECT doc_id,
                   CASE WHEN
                       {_bloom_bit_sql('shingle', 0)}
                           IN (SELECT bit FROM bits)
                       AND {_bloom_bit_sql('shingle', 1)}
                           IN (SELECT bit FROM bits)
                       AND {_bloom_bit_sql('shingle', 2)}
                           IN (SELECT bit FROM bits)
                   THEN 1 ELSE 0 END AS maybe,
                   CASE WHEN shingle IN (SELECT shingle FROM ev)
                   THEN 1 ELSE 0 END AS is_eval
            FROM train
        )
        , verdicts AS (
            SELECT doc_id,
                   cast(count(*) AS bigint) AS n_shingles,
                   cast(sum(maybe) AS bigint) AS bloom_hits,
                   cast(sum(is_eval) AS bigint) AS exact_hits,
                   cast(sum(maybe) - sum(is_eval) AS bigint)
                       AS n_false_pos,
                   (sum(CASE WHEN is_eval = 1 AND maybe = 0
                             THEN 1 ELSE 0 END) = 0) AS sound
            FROM probed GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(n_shingles, 0) AS n_shingles,
               coalesce(bloom_hits, 0) AS bloom_hits,
               coalesce(exact_hits, 0) AS exact_hits,
               coalesce(n_false_pos, 0) AS n_false_pos,
               coalesce(sound, true) AS sound
        FROM (SELECT doc_id FROM documents
              WHERE doc_id % {DECON_EVAL_MOD} <> 0) d
        LEFT JOIN verdicts USING (doc_id)
    """,
    "boilerplate_line_stats": f"""
        WITH {_LINES_SQL},
        per AS (
            SELECT doc_id,
                   cast(count(*) AS bigint) AS n_lines,
                   cast(sum(CASE WHEN boiler THEN 1 ELSE 0 END)
                        AS bigint) AS n_boiler,
                   {dround_sql(
                       'sum(CASE WHEN boiler THEN 1 ELSE 0 END)'
                       ' * 1.0 / count(*)', 6)} AS boiler_frac
            FROM flagged GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(per.n_lines, 0) AS n_lines,
               coalesce(per.n_boiler, 0) AS n_boiler,
               coalesce(per.boiler_frac, 0.0) AS boiler_frac
        FROM documents d LEFT JOIN per USING (doc_id)
    """,
    "strip_boilerplate_lines": f"""
        WITH {_LINES_SQL},
        per AS (
            SELECT doc_id,
                   coalesce(string_agg(line, chr(10) ORDER BY pos)
                                FILTER (WHERE NOT boiler), '')
                       AS clean_text,
                   cast(sum(CASE WHEN boiler THEN 0 ELSE 1 END)
                        AS bigint) AS n_kept,
                   cast(sum(CASE WHEN boiler THEN 1 ELSE 0 END)
                        AS bigint) AS n_stripped
            FROM flagged GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(per.clean_text, '') AS clean_text,
               coalesce(per.n_kept, 0) AS n_kept,
               coalesce(per.n_stripped, 0) AS n_stripped
        FROM documents d LEFT JOIN per USING (doc_id)
    """,
    "unigram_logprob_filter": f"""
        WITH tok AS (
            SELECT doc_id, t AS tok FROM (
                SELECT doc_id, unnest(regexp_split_to_array(
                    text, '{NON_LETTER_RE}')) AS t FROM documents)
            WHERE t <> ''
        ),
        counts AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
        tot AS (SELECT sum(cnt) AS total FROM counts),
        per_tok AS (
            SELECT doc_id,
                   cast(round(ln(cast(total AS double) / cnt)
                              * 1000000) AS bigint) AS nat_micro
            FROM tok JOIN counts USING (tok) CROSS JOIN tot
        ),
        per_doc AS (
            SELECT doc_id, count(*) AS n_tokens,
                   sum(nat_micro) AS sum_micro
            FROM per_tok GROUP BY doc_id
        )
        SELECT d.doc_id,
               cast(coalesce(n_tokens, 0) AS bigint) AS n_tokens,
               cast(round(sum_micro / n_tokens) AS bigint) AS nll_micro,
               coalesce(cast(round(sum_micro / n_tokens) AS bigint)
                            <= {NLL_KEEP_MAX_MICRO}, true) AS keep_head
        FROM documents d LEFT JOIN per_doc USING (doc_id)
    """,
    "url_canonicalize": f"""
        SELECT doc_id, {_URL_SQL} AS url,
               {_canonical_url_sql(_URL_SQL)} AS canonical_url
        FROM documents
    """,
    "url_dedup": f"""
        SELECT {_canonical_url_sql(_URL_SQL)} AS canonical_url,
               min(doc_id) AS keeper_doc,
               cast(count(*) AS bigint) AS n_dups
        FROM documents
        GROUP BY 1
    """,
}
