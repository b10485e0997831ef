"""Training-data pipeline operators (north-star): deterministic
sampling, train/test splits, sequence packing, data-quality checks.

Sampling is HASH-based, never RNG-based: md5(id) mod 100 gives the
same sample on any engine, any partitioning, any rerun — the property
a reproducible data pipeline actually needs (Spark's sample() is
seed-stable only within one engine). All four operators are exact
DuckDB-checkable for the same reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.functions.text import (
    FP_WS, FP_WS_SQL, NON_LETTER_RE, token_count, token_rows)

SAMPLE_PCT = 20
TRAIN_PCT = 90
PACK_BUDGET = 512  # tokens per packed sequence bin

# md5-hex -> bucket 0..99: first 8 hex chars as int, mod 100.
# conv() on the Spark side, nibble-fold on DuckDB (no conv there).
_BUCKET_SPARK = lambda col: (  # noqa: E731
    F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
    .cast("long") % 100
)


def _md5_fold_sql(expr: str, n: int = 8, mod=None) -> str:
    """md5({expr}) first-n hex nibbles folded to a bigint, optionally
    % mod — ONE derivation (built on dedup's shared _HEX2INT device)
    for every oracle-side bucket/sign/key in this module. The r14
    review found FOUR hand-expanded copies of this byte-sensitive
    fold here; an escaping fix applied to one but not the others
    would silently break only that oracle's cross-engine parity."""
    from mapreduce_go_spark.operators.dedup import _HEX2INT

    core = _HEX2INT.format(expr=f"substring(md5({expr}), 1, {n})")
    return f"({core} % {mod})" if mod is not None else f"({core})"

_BUCKET_SQL = _md5_fold_sql("cast({col} AS varchar)", 8, 100)


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample per language stratum: hash-bucket on
    doc_id < 20. Exactly reproducible; per-stratum rates verified by
    the oracle, not a seed."""
    docs = tables.load(spark, sf_dir, "documents")
    return (
        docs.withColumn("bucket", _BUCKET_SPARK(F.col("doc_id")))
        .where(F.col("bucket") < SAMPLE_PCT)
        .select("doc_id", "lang", "bucket")
    )


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 split — membership is a pure function of
    doc_id, so it never shifts when the corpus grows or repartitions
    (the property random splits lose)."""
    docs = tables.load(spark, sf_dir, "documents")
    bucket = _BUCKET_SPARK(F.col("doc_id"))
    return docs.select(
        "doc_id",
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .otherwise(F.lit("test")).alias("split"),
    )


# RAG chunker geometry: 64-token chunks every 48 tokens (16-token
# overlap) — the fixed-window/stride shape retrieval pipelines
# default to (vs the content-defined boundaries of dedup.cdc_chunks,
# which serve dedup, not retrieval granularity).
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def token_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunker with overlap — the standard RAG
    ingestion step: whitespace tokens, one chunk every CHUNK_STRIDE
    tokens, each CHUNK_TOKENS long (the last chunk per doc may be
    shorter). Chunk membership is a pure function of the text, so
    re-chunking a grown corpus never shifts existing chunk ids.

    100 TB shape: split -> sequence -> explode -> slice is one narrow
    map-side pass (no shuffle at all; chunk count is ~n_tokens/stride
    per doc), and the output is immediately partitionable by doc_id
    for downstream featurization. Cross-engine exact: token arrays
    and slices are identical in both engines; counts cast to long."""
    docs = tables.load(spark, sf_dir, "documents")
    # FP_WS, not \s+: Java \s includes \x0B, RE2's (DuckDB) does not —
    # a vertical tab would chunk differently per engine (same class of
    # divergence functions/text.py documents for fingerprints).
    toks = F.filter(F.split(F.col("text"), FP_WS), lambda x: x != "")
    t = docs.select("doc_id", toks.alias("toks")).where(
        F.size("toks") > 0)
    e = t.select(
        "doc_id", "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1,
                       F.lit(CHUNK_STRIDE))).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, CHUNK_TOKENS)
    return e.select(
        "doc_id",
        F.expr(f"start div {CHUNK_STRIDE}").alias("chunk_no"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# Docs per cumsum shard. Shards are contiguous doc_id ranges, so the
# two-level cumsum is EXACT (same numbers as one global pass). Fixture
# calibration: 500 docs -> 4 shards, so the multi-shard path is
# exercised; in production size it so #shards ~ 1e4 (corpus/1e4) —
# the offsets side stays broadcast-small at any corpus size.
PACK_SHARD_DOCS = 128


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to ~512-token bins by running
    token cumsum in deterministic doc_id order — the distributable
    form of greedy packing (bin = floor((cumsum - n_tokens) / budget),
    i.e. a doc starts a new bin when the budget would overflow the
    running total at its start offset).

    The cumsum is TWO-LEVEL so no task ever sees the whole corpus:
    shard = floor(doc_id / PACK_SHARD_DOCS) gives contiguous ranges;
    each shard cumsums locally (partitioned window), and each shard's
    start offset is the prefix sum of earlier shards' totals — a tiny
    aggregate (#shards rows) joined back via broadcast. Identical
    output to a global-window cumsum (the oracle runs that form), but
    the plan has no un-partitioned window (asserted in test_plans.py).
    The prefix sum itself is a self-join aggregate over #shards rows,
    not a window, so the assertion holds plan-wide."""
    docs = tables.load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    ).withColumn(
        "shard", F.floor(F.col("doc_id") / F.lit(PACK_SHARD_DOCS))
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    totals = toks.groupBy("shard").agg(F.sum("n_tokens").alias("tot"))
    prev = totals.select(F.col("shard").alias("pshard"),
                         F.col("tot").alias("ptot"))
    offsets = (
        totals.join(prev, F.col("pshard") < F.col("shard"), "left")
        .groupBy("shard")
        .agg(F.coalesce(F.sum("ptot"), F.lit(0)).alias("offset"))
    )
    packed = (
        toks.withColumn("local_cum", F.sum("n_tokens").over(w))
        .join(F.broadcast(offsets), "shard")
        .withColumn("cum", F.col("local_cum") + F.col("offset"))
        .withColumn(
            "bin",
            F.floor((F.col("cum") - F.col("n_tokens"))
                    / F.lit(PACK_BUDGET)).cast("long"),
        )
    )
    return packed.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


def dq_orphan_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality FK check: line items whose order doesn't exist
    (anti join on the key). Fixture is clean -> 1 summary row with 0."""
    li = tables.load(spark, sf_dir, "lineitem")
    o = tables.load(spark, sf_dir, "orders")
    orphans = li.join(
        o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
    return orphans.agg(F.count("*").alias("n_orphans"))


def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of orders: null counts, domain violations,
    range bounds — the assertions a pipeline runs before training."""
    o = tables.load(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_cust"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long"))
        .alias("bad_status"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("nonpos_price"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-cleaning flow every training pipeline
    runs, as one composed plan: keep a document iff
      (a) it is its near-dup cluster's keeper (connected-component
          label == own doc_id, from dedup.cluster_labels),
      (b) its quality score clears 0.38 (the fixture corpus median is
          ~0.385 - the filter keeps the better half), and
      (c) it has at least 20 tokens.
    Output: the surviving corpus with its quality features."""
    from mapreduce_go_spark.operators.dedup import cluster_labels
    from mapreduce_go_spark.operators.textstats import quality_score

    labels = cluster_labels(spark, sf_dir)
    keepers = labels.where(F.col("label") == F.col("doc_id")).select("doc_id")
    quality = quality_score(spark, sf_dir)
    docs = tables.load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens"))
    return (
        keepers.join(quality, "doc_id")
        .join(toks, "doc_id")
        .where((F.col("quality") >= 0.38) & (F.col("n_tokens") >= 20))
        .select("doc_id", "quality", "n_tokens")
    )


def pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE capstone composition — the complete pre-training data prep
    a 100 TB pipeline runs, as ONE declarative plan Catalyst can
    globally optimize:

      1. near-dup cluster keeper + quality score + length floor
         (corpus_clean: verified-LSH cluster labels),
      2. Gopher repetition filters (repetition_stats, Arrow kernel),
      3. benchmark decontamination (drop the eval split AND any train
         doc sharing a 5-gram with it — broadcast probe),
      4. per-source mixture sampling (hash-bucket, zero shuffle),
      5. PII redaction of the surviving text (md5 of the redacted
         body rides the output as the content fingerprint).

    Every stage is itself a registered, individually-oracled query;
    the composite's oracle nests those same oracle queries as CTE
    subqueries, so the composition semantics — not just the parts —
    are cross-engine checked. All joins key on doc_id (one shuffle
    family); the filters commute, so AQE is free to reorder."""
    from mapreduce_go_spark.operators.quality import (
        DECON_EVAL_MOD, REP_TOP_2GRAM_MAX, REP_TOP_TOKEN_MAX,
        decontaminate, domain_mix_sample, pii_redact, repetition_stats,
    )

    base = corpus_clean(spark, sf_dir)
    rep_ok = (
        repetition_stats(spark, sf_dir)
        .where((F.col("top_token_frac") < REP_TOP_TOKEN_MAX)
               & (F.col("top_2gram_frac") < REP_TOP_2GRAM_MAX))
        .select("doc_id")
    )
    cont = decontaminate(spark, sf_dir).select("doc_id")
    mix = domain_mix_sample(spark, sf_dir).select("doc_id", "source")
    red = pii_redact(spark, sf_dir).select(
        "doc_id", F.md5("redacted").alias("redacted_md5"))
    return (
        base.join(rep_ok, "doc_id")
        .join(mix, "doc_id")
        .where(F.col("doc_id") % DECON_EVAL_MOD != 0)
        .join(cont, "doc_id", "left_anti")
        .join(red, "doc_id")
        .select("doc_id", "source", "quality", "n_tokens",
                "redacted_md5")
    )


# ---------------------------------------------------------------- #
# Retrieval capstone: chunk -> embed -> top-k search                 #
# ---------------------------------------------------------------- #

# Fixed literal queries over the corpus vocabulary (fixture top
# tokens, so scores are non-vacuous); qid is the driver-facing key.
RETRIEVAL_QUERIES = (
    (0, "hash join merge"),
    (1, "stream window batch"),
    (2, "vector column scan"),
)
RETRIEVAL_K = 5
_RETR_SALTS = 32  # two-phase top-k fan: bounds the per-qid partition
# local pin of quality.FH_DIM (module-level import would cycle through
# quality's bottom-of-file pipeline import); equality is asserted in
# tests/test_pipeline_retrieval.py
_FH_DIM = 64


def _fh_qvec(text: str) -> list[int]:
    """Driver-side twin of the feature-hash embedding for a literal
    query string — byte-identical to quality.fh_bucket/fh_sign (md5
    prefix arithmetic), pinned by the retrieval tests."""
    import hashlib
    import re

    vec = [0] * _FH_DIM
    for tok in re.split(NON_LETTER_RE, text):
        if not tok:
            continue
        b = int(hashlib.md5(f"b:{tok}".encode()).hexdigest()[:8],
                16) % _FH_DIM
        s = 1 - 2 * (int(hashlib.md5(f"s:{tok}".encode()).hexdigest()[:8],
                         16) % 2)
        vec[b] += s
    return vec


def chunk_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRIEVAL capstone — three operator families composed into
    the index-build + search shape of a RAG data pipeline: CDC chunk
    the corpus (sub-document retrieval units, dedup.cdc_chunks_df),
    featurize every chunk with the hashing-trick embedding
    (quality.fh_bucket/fh_sign — no vocabulary state), and return the
    cosine top-RETRIEVAL_K chunks per fixed query.

    Scale shape: chunking + featurizing are one explode and ONE
    shuffle (the same fixed-width conditional-sum aggregation as
    feature_hash_embed); scoring is mapper-side expression math
    (query vectors are plan-time literals — the dot product touches
    only the query's nonzero dims); and the top-k is TWO-PHASE — a
    local row_number per (qid, salt) keeps at most K * _RETR_SALTS
    rows per query before the global rank, so no single task ever
    sorts the whole corpus (the classic distributed top-k shape;
    a bare Window.partitionBy(qid) would put every chunk in one
    task). Every stage is exact integer/IEEE arithmetic, so the
    DuckDB oracle checks values bit-for-bit."""
    return chunk_topk_from_sums(chunk_vec_sums(
        tables.spread(tables.load(spark, sf_dir, "documents"))))


def chunk_vec_sums(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_no, v0..v63): hashing-trick vector of every CDC
    chunk as fixed-width conditional sums — the index-build half of
    the retrieval capstone, also maintained incrementally by
    streaming/jobs.run_streaming_retrieval (exact ints, so appending
    a batch's rows to a persistent index reproduces the batch
    computation exactly)."""
    from mapreduce_go_spark.operators.dedup import cdc_chunks_df
    from mapreduce_go_spark.operators.quality import (FH_DIM, fh_bucket,
                                                      fh_sign)

    ch = cdc_chunks_df(docs, with_text=True).select(
        "doc_id", "chunk_no", "chunk_text")
    tok = token_rows(ch, "doc_id", "chunk_no", text="chunk_text")
    cells = tok.select(
        "doc_id", "chunk_no",
        fh_bucket(F.col("tok")).alias("bucket"),
        fh_sign(F.col("tok")).alias("sign"))
    return cells.groupBy("doc_id", "chunk_no").agg(
        *[F.expr(f"sum(if(bucket = {d}, sign, 0L))").alias(f"v{d}")
          for d in range(FH_DIM)])


def chunk_topk_from_sums(sums: DataFrame) -> DataFrame:
    """The search half: score every chunk-vector row against the
    fixed queries and return the salted two-phase top-K — shared by
    the batch capstone and the streaming index's per-epoch answers."""
    import math

    from mapreduce_go_spark.functions.num import dround
    from mapreduce_go_spark.operators.quality import FH_DIM

    n2_expr = " + ".join(f"v{d} * v{d}" for d in range(FH_DIM))

    # all query scores in ONE projection + stack (a per-query union
    # would re-derive the whole chunk+aggregate lineage per branch —
    # measured 2.4 s -> ~1 s at sf0.01); score expression shape
    # (dot / (sqrt(n2) * qn)) is pinned IDENTICALLY in the DuckDB
    # oracle — x/a/b and x/(a*b) differ in IEEE, so the grouping must
    # match across engines
    score_cols = []
    for qid, qtext in RETRIEVAL_QUERIES:
        q = _fh_qvec(qtext)
        qn = math.sqrt(sum(x * x for x in q))
        dot = " + ".join(f"v{d} * ({q[d]}L)"
                         for d in range(FH_DIM) if q[d] != 0) or "0L"
        score_cols.append(
            f"cast(({dot}) AS double)"
            f" / (sqrt(cast(({n2_expr}) AS double))"
            f" * cast({qn!r} AS double)) AS s{qid}")
    stack = ", ".join(f"{qid}, s{qid}" for qid, _ in RETRIEVAL_QUERIES)
    scored = (
        sums.selectExpr("doc_id", "chunk_no", f"({n2_expr}) AS n2",
                        *score_cols)
        .where(F.col("n2") > 0)
        .selectExpr(
            "doc_id", "chunk_no",
            f"stack({len(RETRIEVAL_QUERIES)}, {stack}) AS (qid, score)")
    )
    w_local = Window.partitionBy("qid", "salt").orderBy(
        F.desc("score"), "doc_id", "chunk_no")
    w_final = Window.partitionBy("qid").orderBy(
        F.desc("score"), "doc_id", "chunk_no")
    return (
        scored
        .withColumn("salt", F.pmod(F.hash("doc_id", "chunk_no"),
                                   F.lit(_RETR_SALTS)))
        .withColumn("lr", F.row_number().over(w_local))
        .where(F.col("lr") <= RETRIEVAL_K)
        .withColumn("rank", F.row_number().over(w_final))
        .where(F.col("rank") <= RETRIEVAL_K)
        .select("qid", "rank", "doc_id", "chunk_no",
                dround(F.col("score"), 6).alias("score"))
    )



# A-ES weighted sampling: keep top-K per source
WS_K = 5


def weighted_sample_per_source(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis (A-ES) weighted random sampling WITHOUT
    replacement, per source group — the principled distributed
    weighted sampler for data mixing: each doc gets key u^(1/w)
    (u uniform from a deterministic md5 fold, w = doc length), and
    the top-K keys per group ARE a weighted sample without
    replacement. Compared in the monotone ln(u)/w form, so no pow().

    Scale shape: the key is mapper-side arithmetic; selection is one
    per-group window top-K (rank <= K, the topk_per_group shape) —
    no global sort, no rejection loop, no driver state. At 100 TB
    this is how you draw a weighted mixture in one pass.

    Determinism: u = (52-bit md5 fold + 1) / (2^52 + 1), exact in
    both engines; ln() is the green BM25 discipline; identical
    doubles rank identically, and doc_id breaks (impossible) ties.
    The emitted key lands on the 1e-9 grid for value comparison."""
    from mapreduce_go_spark.functions.num import grid

    docs = tables.load(spark, sf_dir, "documents")
    u52 = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"),
                                   F.col("doc_id").cast("string"))),
                    1, 13), 16, 10).cast("long")
    u = (u52 + 1).cast("double") / F.lit(float(2**52 + 1))
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = F.log(u) / w
    wnd = Window.partitionBy("source").orderBy(
        F.col("key").desc(), F.col("doc_id"))
    return (
        docs.select("source", "doc_id", "n_chars", key.alias("key"))
        .withColumn("rk", F.row_number().over(wnd))
        .where(F.col("rk") <= WS_K)
        .select("source", "doc_id", "n_chars", "rk",
                grid(F.col("key"), 10**9).alias("key_nano"))
    )


# Contrastive negative sampling: K deterministic negatives per anchor
# via a linear-congruential mix over the dense doc_id domain. The mix
# constants keep (n_docs - 1) * CONTRA_A < 2^63 for corpora up to
# ~3.4e9 docs (beyond a 100 TB text corpus at ~30 KB/doc); past that,
# split the id domain into ranges and mix within-range (the pack_
# sequences two-level discipline) — never a float RNG, whose sampling
# would shift under repartition.
CONTRA_K = 4
CONTRA_A = 2654435761  # Knuth multiplicative hash constant
CONTRA_B = 97
CONTRA_C = 17


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative sampling for contrastive training: each document
    anchors CONTRA_K pseudo-random negatives drawn uniformly from the
    dense doc_id domain (self-pairs remapped +1), labeled with a
    same_source flag so a trainer can drop likely false negatives.

    Shape: the corpus count reaches the mapper as a broadcast 1-row
    aggregate (stays declarative — no driver action); negatives are a
    pure per-row expression; the only exchange is the equi-join of
    K x |docs| sampled ids back to documents, which at 100 TB rides
    the canonical doc_id-bucketed layout. Determinism: membership is
    a pure integer function of (doc_id, k), invariant under
    repartition and corpus growth within a fixed n_docs snapshot.
    """
    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "source")
    n = docs.groupBy().agg(F.count("*").alias("n_docs"))
    raw = (F.col("doc_id") * F.lit(CONTRA_A)
           + F.col("k") * F.lit(CONTRA_B)
           + F.lit(CONTRA_C)) % F.col("n_docs")
    neg_id = F.when(raw == F.col("doc_id"),
                    (raw + 1) % F.col("n_docs")).otherwise(raw)
    pairs = (
        docs.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("source").alias("anchor_source"),
            F.explode(
                F.sequence(F.lit(1).cast("long"),
                           F.lit(CONTRA_K).cast("long"))
            ).alias("k"),
            "n_docs",
        )
        .withColumn("neg_id", neg_id)
    )
    neg = docs.select(F.col("doc_id").alias("neg_id"),
                      F.col("source").alias("neg_source"))
    return (
        pairs
        # contract: a negative is never the anchor. The +1 remap
        # guarantees that for n_docs >= 2; a single-document corpus
        # has NO valid negative ((d+1) % 1 == d again — r15 review),
        # so it emits zero pairs rather than self-contradiction pairs
        .where(F.col("neg_id") != F.col("doc_id"))
        .join(neg, "neg_id")
        .select(
            "doc_id", "k", "neg_id", "anchor_source", "neg_source",
            (F.col("anchor_source") == F.col("neg_source"))
            .alias("same_source"),
        )
    )


OBS_MIN_CHARS = 200  # keep docs with at least this many chars


def observed_pipeline_filter(spark: SparkSession, sf_dir: str,
                             observation=None) -> DataFrame:
    """Inline pipeline observability via df.observe(): length-filter
    the corpus and piggyback EXACT row/char/language metrics on the
    same action — Spark's observable metrics evaluate as accumulator-
    style aggregates during the pass that produces the rows, so a
    100 TB pipeline gets its kept/dropped bookkeeping for free
    instead of re-scanning (a count action after every filter stage
    doubles the scan). The observation never changes the rows, so
    the oracle is the plain filter; metric VALUES are asserted
    against an independent aggregate in tests/test_observe.py, which
    passes a pyspark.sql.Observation through the `observation` hook
    (the driver path observes under a name only — named observations
    need no listener to stay side-effect-free)."""
    docs = tables.load(spark, sf_dir, "documents")
    kept = docs.where(F.col("n_chars") >= OBS_MIN_CHARS).select(
        "doc_id", "lang", "source", "n_chars")
    # observed metrics must be MERGEABLE single-pass aggregates — the
    # engine rejects DISTINCT (AGGREGATE_EXPRESSION_WITH_DISTINCT_
    # UNSUPPORTED): the per-task metric states merge like shuffle
    # partials, the same constraint the CMS/HLL/Bloom sketch family
    # is built around. Cardinality therefore rides HLL
    # (approx_count_distinct — exact below the sparse-mode threshold,
    # which 6 languages are).
    metrics = [
        F.count(F.lit(1)).alias("rows_kept"),
        F.sum("n_chars").alias("chars_kept"),
        F.approx_count_distinct("lang").alias("langs_kept"),
        F.min("n_chars").alias("min_chars"),
    ]
    if observation is not None:
        return kept.observe(observation, *metrics)
    return kept.observe("pipeline_filter_metrics", *metrics)


DSIR_BUCKETS = 128      # hashed-feature space (the paper's 10k at
                        # corpus scale; 128 keeps fixture buckets dense)
DSIR_TARGET_LANG = "en"  # target distribution: the English slice
DSIR_KEEP = 100          # documents selected


def dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by its hashed-n-gram importance under a target
    distribution, select the top-importance subset. Features are
    salted-md5-hashed unigram buckets (the paper hashes n-grams into
    10k buckets; 128 keeps fixture buckets dense); the target here is
    the corpus' English slice, the raw distribution is the whole
    corpus; both are add-1 smoothed. Importance of a doc =
    sum over tokens of ln(p_target(b)/p_raw(b)).

    Selection is deterministic top-DSIR_KEEP by (weight, doc_id) —
    the paper's Gumbel-resampling variant adds sampling noise on top
    of exactly this statistic; the statistic is the checkable part.

    Cross-engine exactness: bucket counts and totals are integers;
    each ln() argument is an exact-int64 / exact-int64 double
    division (identical IEEE result), ln is the correctly-rounded
    libm call the green BM25/unigram queries rely on, snapped to the
    1e-6 grid per BUCKET (128 longs) and summed per doc as int64 —
    no double accumulation.

    100 TB shape: both distributions aggregate to DSIR_BUCKETS=128
    rows (broadcast); per-token scoring is a map-side broadcast join;
    one shuffle for the per-doc sum. Because every document is
    emitted (score + flag), a global rank would drag the whole scored
    corpus through one partition — instead the K-th (weight, doc_id)
    is found with orderBy().limit(K) (TakeOrderedAndProject:
    per-partition top-K, then a K-row merge) and broadcast as a
    threshold; the flag is a map-side comparison reproducing the
    rank's (weight DESC, doc_id ASC) tie-break exactly
    (tests/test_plans.py pins the TakeOrderedAndProject + no-Window
    shape).

    The per-doc weights are materialized once (lazy checkpoint — the
    kth TakeOrdered action computes it): both the K-th-threshold probe
    and the final flag projection consume them, and under the lazy
    DAG each re-ran the whole tokenize+score lineage (12 parquet scans
    in the before-plan). One narrow row per document; measured 2.38 ->
    1.86 s at sf0.1 (interleaved min-of-4), value-identical."""
    return _dsir_select(
        _dsir_per_doc(spark, sf_dir).localCheckpoint(eager=False))


def _dsir_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, logw_micro): each document's DSIR importance
    on the 1e-6 grid."""
    from mapreduce_go_spark.functions.num import grid

    docs = tables.load(spark, sf_dir, "documents")
    tok = token_rows(tables.spread(docs), "doc_id", "lang")
    bucket = (
        F.conv(F.substring(
            F.md5(F.concat(F.lit("dsir:"), F.col("tok"))), 1, 8), 16, 10)
        .cast("long") % DSIR_BUCKETS
    )
    tb = tok.select("doc_id", "lang", bucket.alias("b"))
    # ONE conditional aggregation builds both distributions — as two
    # separate groupBys the split+explode of every document ran twice
    # (r15 review); identical integer outputs, oracle unchanged
    both = tb.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("long"))
        .alias("ct"))
    # dense 0..B-1 frame: a bucket absent from either side still
    # carries its add-1 smoothing mass
    frame = spark.range(DSIR_BUCKETS).select(F.col("id").alias("b"))
    dist = (
        frame.join(both, "b", "left")
        .select("b",
                F.coalesce("cr", F.lit(0)).alias("cr"),
                F.coalesce("ct", F.lit(0)).alias("ct"))
    )
    tot = dist.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    logratio = (
        grid(F.log((F.col("ct") + 1).cast("double")
                   / (F.col("tt") + DSIR_BUCKETS)), 10**6)
        - grid(F.log((F.col("cr") + 1).cast("double")
                     / (F.col("tr") + DSIR_BUCKETS)), 10**6)
    )
    ratio = (dist.crossJoin(F.broadcast(tot))
             .select("b", logratio.alias("g")))
    return (
        tb.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"),
             F.sum("g").alias("logw_micro"))
    )


def _dsir_select(per_doc: DataFrame) -> DataFrame:
    """Every doc of `per_doc` flagged `selected` iff it ranks in the
    top DSIR_KEEP by (weight DESC, doc_id ASC)."""
    kth = (
        per_doc.orderBy(F.col("logw_micro").desc(), "doc_id")
        .limit(DSIR_KEEP)
        # the K-th element in (w DESC, id ASC) order == the min under
        # (w ASC, -id ASC) among the kept K
        .agg(F.min(F.struct(
            F.col("logw_micro").alias("w"),
            (-F.col("doc_id")).alias("nd"))).alias("kth"))
    )
    return (
        per_doc.crossJoin(F.broadcast(kth))
        .select(
            "doc_id", "n_tokens", "logw_micro",
            ((F.col("logw_micro") > F.col("kth.w"))
             | ((F.col("logw_micro") == F.col("kth.w"))
                & (F.col("doc_id") <= -F.col("kth.nd"))))
            .alias("selected"))
    )


QUERIES = {
    "observed_pipeline_filter": observed_pipeline_filter,
    "contrastive_pairs": contrastive_pairs,
    "weighted_sample_per_source": weighted_sample_per_source,
    "corpus_clean": corpus_clean,
    "pretrain_corpus": pretrain_corpus,
    "chunk_retrieval_topk": chunk_retrieval_topk,
    "stratified_sample": stratified_sample,
    "train_test_split": train_test_split,
    "token_chunks_overlap": token_chunks_overlap,
    "pack_sequences": pack_sequences,
    "dq_orphan_lineitems": dq_orphan_lineitems,
    "dq_profile": dq_profile,
    "dsir_importance_sample": dsir_importance_sample,
}

# token_count's DuckDB twin — interpolates the SHARED tokenizer
# pattern (functions/text.py), not a hand-expanded copy: a tokenizer
# change (e.g. the documented UNICODE_NON_LETTER_RE switch) must move
# every oracle with it (r15 review)
_TOKS = (f"len(list_filter(regexp_split_to_array(text,"
         f" '{NON_LETTER_RE}'), x -> x <> ''))")

def _corpus_clean_sql() -> str:
    """Oracle twin of corpus_clean, composed the way the Spark side
    is: the quality column comes from textstats' OWN registered
    quality_score oracle nested verbatim (the _pretrain_sql
    discipline) — until r15 this function carried a third copy of the
    quality blend, so a hardening of textstats (weights, saturation,
    the ANSI NULL guard ba94de9 added) would have silently left this
    oracle on the old semantics."""
    from mapreduce_go_spark.operators import textstats
    from mapreduce_go_spark.operators.dedup import LABELS_CTE_SQL

    return LABELS_CTE_SQL + f""",
        keepers AS (SELECT doc_id FROM labels WHERE label = doc_id),
        q AS (
            SELECT doc_id, quality
            FROM ({textstats.ORACLES["quality_score"]})
        ),
        ntk AS (SELECT doc_id, {_TOKS} AS n_tokens FROM documents)
        SELECT doc_id, quality, n_tokens
        FROM keepers JOIN q USING (doc_id) JOIN ntk USING (doc_id)
        WHERE quality >= 0.38 AND n_tokens >= 20
    """


def _pretrain_sql() -> str:
    """Composite oracle: each stage's own registered oracle query is
    nested verbatim as a CTE subquery (DuckDB allows WITH inside a
    parenthesized subquery), so this checks the COMPOSITION of the
    exact semantics each stage already proves individually.

    Import-order hazard (quality <-> pipeline cycle): when QUALITY is
    imported first, this function runs while quality is mid-import —
    its ORACLES dict literal exists (so the plain entries below are
    safe) but the post-dict fill of 'domain_mix_sample' has not run
    yet, and reading the dict entry here embedded a literal `None` in
    the composite SQL (broke the oracle only under quality-first
    import order). Call the BUILDER `_domain_mix_sql()` instead —
    defined before the fill, safe in both orders; pinned by
    tests/test_registry.py::test_oracles_immune_to_import_order."""
    from mapreduce_go_spark.operators import quality

    return f"""
        WITH clean AS ({_corpus_clean_sql()}),
        rep AS (
            SELECT doc_id FROM ({quality.ORACLES['repetition_stats']})
            WHERE top_token_frac < {quality.REP_TOP_TOKEN_MAX}
              AND top_2gram_frac < {quality.REP_TOP_2GRAM_MAX}
        ),
        cont AS (
            SELECT doc_id FROM ({quality.ORACLES['decontaminate']})
        ),
        mix AS (
            SELECT doc_id, source
            FROM ({quality._domain_mix_sql()})
        ),
        red AS (
            SELECT doc_id, md5(redacted) AS redacted_md5
            FROM ({quality.ORACLES['pii_redact']})
        )
        SELECT c.doc_id, m.source, c.quality, c.n_tokens,
               r.redacted_md5
        FROM clean c
        JOIN rep USING (doc_id)
        JOIN mix m USING (doc_id)
        JOIN red r USING (doc_id)
        WHERE c.doc_id % {quality.DECON_EVAL_MOD} <> 0
          AND c.doc_id NOT IN (SELECT doc_id FROM cont)
    """


# DuckDB twin of the FH bucket/sign md5-prefix arithmetic (the same
# hex fold quality's oracles use), over a chunk-token expression.
_FH_FOLD = _md5_fold_sql("{prefix} || tok", 8, "{mod}")


def _retrieval_sql() -> str:
    import math

    from mapreduce_go_spark.functions.num import dround_sql
    from mapreduce_go_spark.operators.dedup import _CDC_CHUNKS_SQL

    qv_rows, qn_rows = [], []
    for qid, qtext in RETRIEVAL_QUERIES:
        q = _fh_qvec(qtext)
        qn = math.sqrt(sum(x * x for x in q))
        qn_rows.append(f"({qid}, cast({qn!r} AS double))")
        qv_rows.extend(f"({qid}, {d}, cast({q[d]} AS bigint))"
                       for d in range(_FH_DIM) if q[d] != 0)
    return _CDC_CHUNKS_SQL + f""",
    ctok AS (
        SELECT doc_id, chunk_no, t AS tok FROM (
            SELECT doc_id, chunk_no,
                   unnest(regexp_split_to_array(chunk_text,
                                                '{NON_LETTER_RE}')) AS t
            FROM chunks)
        WHERE t <> ''
    ),
    ccells AS (
        SELECT doc_id, chunk_no,
               {_FH_FOLD.format(prefix="'b:'", mod=_FH_DIM)} AS bucket,
               1 - 2 * ({_FH_FOLD.format(prefix="'s:'", mod=2)}) AS sign
        FROM ctok
    ),
    cs AS (
        SELECT doc_id, chunk_no, bucket, cast(sum(sign) AS bigint) AS v
        FROM ccells GROUP BY 1, 2, 3
    ),
    cn2 AS (
        SELECT doc_id, chunk_no, sum(v * v) AS n2
        FROM cs GROUP BY 1, 2
    ),
    qv(qid, bucket, qval) AS (VALUES {", ".join(qv_rows)}),
    qn(qid, qnorm) AS (VALUES {", ".join(qn_rows)}),
    dots AS (
        SELECT cs.doc_id, cs.chunk_no, qv.qid,
               sum(cs.v * qv.qval) AS dot
        FROM cs JOIN qv USING (bucket) GROUP BY 1, 2, 3
    ),
    scoredq AS (
        SELECT cn2.doc_id, cn2.chunk_no, qn.qid,
               cast(coalesce(d.dot, 0) AS double)
               / (sqrt(cast(cn2.n2 AS double)) * qn.qnorm) AS score
        FROM cn2 CROSS JOIN qn
        LEFT JOIN dots d ON d.doc_id = cn2.doc_id
                        AND d.chunk_no = cn2.chunk_no
                        AND d.qid = qn.qid
        WHERE cn2.n2 > 0
    ),
    rankedq AS (
        SELECT qid, doc_id, chunk_no, score,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id,
                                           chunk_no) AS rank
        FROM scoredq
    )
    SELECT qid, cast(rank AS int) AS rank, doc_id, chunk_no,
           {dround_sql('score', 6)} AS score
    FROM rankedq WHERE rank <= {RETRIEVAL_K}
    """


# salted md5 nibble-fold -> bucket 0..DSIR_BUCKETS-1 (the _BUCKET_SQL
# device with the dsir salt and a parametric modulus)
_DSIR_BUCKET_SQL = _md5_fold_sql("'dsir:' || tok", 8, DSIR_BUCKETS)

ORACLES = {
    # the observation is metadata-only: rows are the plain filter
    "observed_pipeline_filter": f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents WHERE n_chars >= {OBS_MIN_CHARS}
    """,
    "dsir_importance_sample": f"""
        WITH tok AS (
            SELECT doc_id, lang, t AS tok FROM (
                SELECT doc_id, lang, unnest(regexp_split_to_array(
                    text, '{NON_LETTER_RE}')) AS t FROM documents)
            WHERE t <> ''
        ),
        tb AS (SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b FROM tok),
        frame AS (SELECT g.b FROM generate_series(
            0, {DSIR_BUCKETS - 1}) g(b)),
        raw AS (SELECT b, count(*) AS cr FROM tb GROUP BY b),
        tgt AS (SELECT b, count(*) AS ct FROM tb
                WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b),
        dist AS (
            SELECT f.b, coalesce(r.cr, 0) AS cr, coalesce(t.ct, 0) AS ct
            FROM frame f LEFT JOIN raw r USING (b)
            LEFT JOIN tgt t USING (b)
        ),
        tot AS (SELECT cast(sum(cr) AS bigint) AS tr,
                       cast(sum(ct) AS bigint) AS tt FROM dist),
        ratio AS (
            SELECT b,
                   cast(round(ln(cast(ct + 1 AS double)
                                 / (tt + {DSIR_BUCKETS}))
                              * 1000000) AS bigint)
                 - cast(round(ln(cast(cr + 1 AS double)
                                 / (tr + {DSIR_BUCKETS}))
                              * 1000000) AS bigint) AS g
            FROM dist CROSS JOIN tot
        ),
        per_doc AS (
            SELECT doc_id, count(*) AS n_tokens,
                   cast(sum(g) AS bigint) AS logw_micro
            FROM tb JOIN ratio USING (b) GROUP BY doc_id
        )
        SELECT doc_id, cast(n_tokens AS bigint) AS n_tokens, logw_micro,
               (row_number() OVER (ORDER BY logw_micro DESC, doc_id)
                    <= {DSIR_KEEP}) AS selected
        FROM per_doc
    """,
    "token_chunks_overlap": f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text,
                                                     '{FP_WS_SQL}'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        e AS (
            SELECT doc_id, toks,
                   unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start
            FROM t WHERE len(toks) > 0
        )
        SELECT doc_id,
               start // {CHUNK_STRIDE} AS chunk_no,
               cast(len(toks[start + 1 : start + {CHUNK_TOKENS}])
                    AS bigint) AS n_tokens,
               array_to_string(toks[start + 1 : start + {CHUNK_TOKENS}],
                               ' ') AS chunk_text
        FROM e
    """,
    "contrastive_pairs": f"""
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        ks AS (SELECT unnest(generate_series(1, {CONTRA_K})) AS k),
        pairs AS (
            SELECT d.doc_id, d.source AS anchor_source, ks.k, n.n_docs,
                   (d.doc_id * {CONTRA_A} + ks.k * {CONTRA_B}
                        + {CONTRA_C}) % n.n_docs AS raw
            FROM documents d, n, ks
        ),
        withneg AS (
            SELECT doc_id, anchor_source, k,
                   CASE WHEN raw = doc_id
                        THEN (raw + 1) % n_docs ELSE raw END AS neg_id
            FROM pairs
        )
        SELECT w.doc_id, w.k, w.neg_id, w.anchor_source,
               d2.source AS neg_source,
               w.anchor_source = d2.source AS same_source
        FROM withneg w JOIN documents d2 ON w.neg_id = d2.doc_id
        WHERE w.neg_id <> w.doc_id
    """,
    "corpus_clean": _corpus_clean_sql(),
    "pretrain_corpus": _pretrain_sql(),
    "chunk_retrieval_topk": _retrieval_sql(),
    "stratified_sample": f"""
        SELECT doc_id, lang,
               {_BUCKET_SQL.format(col='doc_id')} AS bucket
        FROM documents
        WHERE {_BUCKET_SQL.format(col='doc_id')} < {SAMPLE_PCT}
    """,
    "train_test_split": f"""
        SELECT doc_id,
               CASE WHEN {_BUCKET_SQL.format(col='doc_id')} < {TRAIN_PCT}
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
    """,
    "pack_sequences": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS n_tokens FROM documents
        ),
        packed AS (
            SELECT doc_id, n_tokens,
                   cast(floor((sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens) / {PACK_BUDGET}.0) AS bigint) AS bin
            FROM toks
        )
        SELECT bin, count(*) AS n_docs,
               cast(sum(n_tokens) AS bigint) AS bin_tokens,
               min(doc_id) AS first_doc
        FROM packed GROUP BY bin
    """,
    "dq_orphan_lineitems": """
        SELECT count(*) AS n_orphans
        FROM lineitem
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
    """,
    "dq_profile": """
        SELECT count(*) AS n_rows,
               cast(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS bigint) AS null_cust,
               cast(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                        THEN 1 ELSE 0 END) AS bigint) AS bad_status,
               cast(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                    AS bigint) AS nonpos_price,
               min(o_orderdate) AS min_date,
               max(o_orderdate) AS max_date
        FROM orders
    """,
}


ORACLES["weighted_sample_per_source"] = f"""
    WITH keyed AS (
        SELECT source, doc_id, n_chars,
               ln(({_md5_fold_sql("'ws:' || cast(doc_id AS varchar)", 13)} + 1)
                  / {float(2**52 + 1)!r})
                   / cast(greatest(n_chars, 1) AS double) AS key
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, n_chars, key,
               row_number() OVER (PARTITION BY source
                                  ORDER BY key DESC, doc_id) AS rk
        FROM keyed
    )
    SELECT source, doc_id, n_chars, cast(rk AS bigint) AS rk,
           cast(round(key * {10**9}) AS bigint) AS key_nano
    FROM ranked WHERE rk <= {WS_K}
"""
