"""Physical-plan assertions: the scale properties SURVEY §4.3 demands
must be visible in the executed plan, not just intended.

- filters reach the parquet scan (PushedFilters)
- projections prune the scan schema (ReadSchema)
- dimension joins broadcast (BroadcastHashJoin), fact joins don't
  collapse to nested-loop
- algebraic aggregates run partial+final (map-side combine — the
  upgrade over the reference's combiner-less reduce, SURVEY §2.3)
- top-k plans as TakeOrderedAndProject, not a global sort
"""

import contextlib
import io
import re

import pytest

from mapreduce_go_spark.operators import apps, joins, pipeline, relational
from mapreduce_go_spark.operators import similarity


@pytest.fixture(autouse=True)
def _plan_assertions_see_no_cache(spark):
    """Plan-shape assertions must be order-independent: queries that
    register session-wide cached relations (ann_recall_dashboard's
    shared embeddings scan — the _bucketed_table/media_table class of
    deliberate session side effects) would otherwise substitute
    InMemoryRelation into later-audited plans and flip scan-count /
    codegen assertions depending on test order (r14 review)."""
    spark.catalog.clearCache()
    yield



def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushed_to_scan(spark, sf_dir):
    p = plan_of(relational.filter_pushdown(spark, sf_dir))
    assert "PushedFilters:" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed, pushed


def test_projection_prunes_scan(spark, sf_dir):
    p = plan_of(relational.projection(spark, sf_dir))
    sched = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in sched
    assert "l_shipdate" not in sched, sched  # unused column not read
    assert "l_returnflag" not in sched, sched


def test_dim_joins_broadcast(spark, sf_dir):
    p = plan_of(joins.join_broadcast(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q5_broadcasts_dims_not_facts(spark, sf_dir):
    p = plan_of(joins.local_supplier_volume(spark, sf_dir))
    assert "BroadcastHashJoin" in p  # nation/region side
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_wordcount_partial_aggregation(spark, sf_dir):
    p = plan_of(apps.wordcount(spark, sf_dir))
    assert "partial_count" in p or "Partial" in p, p  # map-side combine


def test_topk_avoids_global_sort(spark, sf_dir):
    p = plan_of(relational.top_k(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_bucketed_join_zero_exchange(spark, sf_dir):
    """join_inner_bucketed (registry) must run join AND aggregate with
    no Exchange at all — both sides bucket-sorted on the join key and
    the groupBy reuses that partitioning."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(joins.join_inner_bucketed(spark, sf_dir))
        assert "Exchange" not in p, p
        assert "SortMergeJoin" in p, p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q5_bucketed_twin_saves_fact_join_exchanges(spark, sf_dir):
    """local_supplier_volume_bucketed reads the shared bucketed fact
    layouts: its lineitem x orders join must shuffle NEITHER side, so
    with broadcast disabled the plan carries exactly two fewer shuffle
    exchanges than the unbucketed Q5 (the later supplier/customer
    joins still shuffle — that's expected; the dims stay hinted
    broadcasts in both plans and cancel out)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # formatted explain prints one "(n) Exchange" detail block per
        # shuffle (BroadcastExchange blocks say "BroadcastExchange")
        shuffles = re.compile(r"^\(\d+\) Exchange\b", re.MULTILINE)
        plain = len(shuffles.findall(
            plan_of(joins.local_supplier_volume(spark, sf_dir))))
        bucketed_plan = plan_of(
            joins.local_supplier_volume_bucketed(spark, sf_dir))
        bucketed = len(shuffles.findall(bucketed_plan))
        assert bucketed == plain - 2, (plain, bucketed, bucketed_plan)
        assert "SortMergeJoin" in bucketed_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q18_q21_bucketed_twins_save_orderkey_exchanges(spark, sf_dir):
    """The r8 bucketed twins must actually remove the orderkey-side
    shuffles their docstrings claim (the Q5-twin discipline): with
    broadcast disabled, q18's bucketed plan drops the lineitem-agg
    and orders exchanges (2 fewer), and q21's drops the exchanges on
    all three lineitem legs plus orders (4 fewer)."""
    from mapreduce_go_spark.operators import tpch

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffles = re.compile(r"^\(\d+\) Exchange\b", re.MULTILINE)
        for plain_fn, twin_fn, saved in (
                (tpch.q18_large_orders, tpch.q18_large_orders_bucketed, 2),
                (tpch.q21_waiting_orders,
                 tpch.q21_waiting_orders_bucketed, 4)):
            plain = len(shuffles.findall(plan_of(plain_fn(spark, sf_dir))))
            twin_plan = plan_of(twin_fn(spark, sf_dir))
            twin = len(shuffles.findall(twin_plan))
            assert twin == plain - saved, (
                plain_fn.__name__, plain, twin, twin_plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Spark's runtime Bloom-filter join pruning (AQE runtime
    filtering) must inject a might_contain predicate on the FACT scan
    when the other side carries a selective filter — at 100 TB this
    fires automatically (probe side over the 10 GB
    applicationSideScanSizeThreshold); at fixture scale the threshold
    is lowered to pin that the session config keeps the feature
    armed. The filter means the lineitem scan drops non-matching
    orderkeys BEFORE the shuffle — a major exchange-volume saver for
    selective fact-fact joins."""
    from mapreduce_go_spark import tables
    from pyspark.sql import functions as F

    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    prev_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold", "10GB")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                             "10485760")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter."
                   "applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = tables.load(spark, sf_dir, "lineitem")
        od = tables.load(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT")
        j = (li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_orderpriority").count())
        p = plan_of(j)
        assert "might_contain" in p, p
    finally:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter."
                       "applicationSideScanSizeThreshold", prev_scan)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_banded_hamming_pairs_two_exchanges(spark, sf_dir):
    """The shared fingerprint-pair machinery must shuffle exactly
    twice: once on the bucket key (the window cap guard and the
    bucket groupBy SHARE that partitioning — the cap costs no extra
    exchange) and once for the final pair-level distinct. A third
    exchange would mean the cap guard broke partitioning reuse."""
    from mapreduce_go_spark import tables
    from mapreduce_go_spark.operators import multimodal as mm

    docs = tables.load(spark, sf_dir, "documents").select("doc_id")
    bands = docs.mapInPandas(mm._phash_band_batches,
                             mm.PHASH_BANDS_SCHEMA)
    p = plan_of(mm.banded_hamming_pairs(bands, 4, 10))
    n = len(re.findall(r"^\(\d+\) Exchange\b", p, re.M))
    assert n == 2, p


def test_dedup_bucket_caps_precede_collect(spark, sf_dir):
    """Every capped bucket-pair pipeline (minhash, simhash, winnowing,
    embedding LSH, image pHash) runs dedup.bucket_pairs, whose cap is
    a window count BEFORE collect_list — a degenerate bucket's rows
    never enter an array — and the guard shares the bucket-key
    exchange: each plan carries a Window node and exactly the Exchange
    count it had before the expander was shared (a window on its own
    partitioning would add one)."""
    from mapreduce_go_spark.operators import dedup
    from mapreduce_go_spark.operators import multimodal as mm

    for fn, want in ((dedup.dedup_minhash_pairs_capped, 4),
                     (dedup.simhash_neardup_pairs_capped, 4),
                     (dedup.winnow_overlap_pairs, 4),
                     (similarity.embedding_neardup_pairs_blocked, 2),
                     (mm.image_phash_pairs, 2)):
        p = plan_of(fn(spark, sf_dir))
        n = len(re.findall(r"^\(\d+\) Exchange\b", p, re.M))
        assert n == want, (fn.__name__, n, p)
        assert "Window" in p, (fn.__name__, p)


def test_phash_dup_flags_bounded_holder_join(spark, sf_dir):
    """The batch dup-flag anchor must use the bounded-holder join
    (the streaming index formulation), never a bucket-sized array:
    no collect_list on the bucket key anywhere in the plan — a
    degenerate bucket of N members must cost N * CAP join rows, not
    one N-sized array in a single reducer. The band relation is
    persisted so the decode+hash kernel runs once and both join
    sides scan the cache (two InMemoryTableScans, one MapInPandas
    kernel in the plan)."""
    from mapreduce_go_spark.operators import multimodal as mm

    df = mm.phash_dup_flags(spark, sf_dir)
    p = plan_of(df)
    try:
        assert "collect_list" not in p, p
        assert "Window" in p, p
        assert p.count("InMemoryTableScan") >= 2, p
        # one distinct kernel node, referenced by both cache scans
        assert len(re.findall(r"^\(\d+\) MapInPandas", p, re.M)) == 1, p
    finally:
        spark.catalog.clearCache()


def test_streaming_phash_epoch_bounded_holder_join(spark, sf_dir,
                                                   tmp_path, monkeypatch):
    """The streaming twin of phash_dup_flags pairs a batch's band rows
    through the same bounded-holder join: neither frame an epoch
    writes (its flags, its index snapshot) collects a band bucket into
    one array."""
    from pyspark.sql.readwriter import DataFrameWriter

    from mapreduce_go_spark import tables
    from mapreduce_go_spark.streaming import jobs

    plans = []
    monkeypatch.setattr(DataFrameWriter, "parquet",
                        lambda self, path, *a, **k: plans.append(
                            plan_of(self._df)))
    batch = tables.load(spark, sf_dir, "documents").where("doc_id < 64")
    jobs._phash_epoch(batch, 0, str(tmp_path / "index"),
                      str(tmp_path / "flags"))
    assert len(plans) == 2
    for p in plans:
        assert "collect_list" not in p, p


def test_pack_sequences_no_global_window(spark, sf_dir):
    """The packing cumsum must never run as one un-partitioned window
    (the whole corpus through a single task). windowspecdefinition's
    arg list = partition cols, then `ordercol ASC/DESC ...` specs —
    an unpartitioned window starts straight at an order spec."""
    df = pipeline.pack_sequences(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        first = spec.split(",")[0].strip()
        assert not re.search(r"\b(ASC|DESC)\b", first), (
            f"unpartitioned window: windowspecdefinition({spec})")
    assert "windowspecdefinition" in plan  # the partitioned cumsum exists


def test_embedding_neardup_blocked_no_crossjoin(spark, sf_dir):
    """The production near-dup path must not contain an all-pairs
    product: no cartesian/nested-loop join anywhere in the physical
    plan. (embedding_neardup_pairs — the exact recall oracle — is
    all-pairs BY DESIGN and exempt: it is demoted from the driver
    window and documented fixture-scale-only.)"""
    p = plan_of(similarity.embedding_neardup_pairs_blocked(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoop" not in p, p


def test_neardup_flags_no_pair_expansion(spark, sf_dir):
    """The per-doc dup verdict must use the min-per-bucket probe
    (window rank), never materialize bucket pairs: a B-doc bucket
    costs O(B), not B(B-1)/2 posexploded pair rows. This query is the
    batch anchor of the streaming near-dup job, so its plan shape is
    load-bearing."""
    from mapreduce_go_spark.operators import dedup

    p = plan_of(dedup.neardup_flags(spark, sf_dir))
    assert "posexplode" not in p, p
    assert "Window" in p, p


def test_neardup_edges_no_shingle_only_join(spark, sf_dir):
    """The production cluster edge source (neardup_edges -> verified
    pairs) must never contain the quadratic standalone shingle
    self-join: every equi-join keyed on a shingle column must carry a
    doc-id key too (candidates drive the intersection)."""
    from mapreduce_go_spark.operators import dedup

    df = dedup.neardup_edges(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    key_lists = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\w*"
        r"\s+\[([^\]]*)\]", plan)
    assert key_lists, plan  # the joins are there to inspect
    for keys in key_lists:
        cols = [k.strip() for k in keys.split(",") if k.strip()]
        assert not (len(cols) == 1 and cols[0].startswith("shingle")), (
            f"shingle-only self-join in production edge plan: [{keys}]")


def test_simhash_no_broadcast_vocab(spark, sf_dir):
    """simhash must carry NO vocab-wide state: the md5 bit table is a
    pure function of the token, computed inline per tf row — the plan
    has no join (the old broadcast bit-table was unbounded by corpus
    size: billions of distinct tokens at 100 TB)."""
    from mapreduce_go_spark.operators import dedup

    p = plan_of(dedup.simhash(spark, sf_dir))
    assert "Join" not in p, p
    assert "BroadcastExchange" not in p, p


def test_pricing_summary_hot_path_sums_longs(spark, sf_dir):
    """The flagship aggregate's per-row level must sum int64 grid
    values, never a wide (Int128-backed) decimal buffer — the
    partitioned_grid_sums contract (functions/num.py): decimals may
    appear only in the final level over the tiny partial set."""
    df = relational.pricing_summary(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    partials = [ln for ln in plan.splitlines() if "partial_sum" in ln]
    assert partials, plan
    # the deepest partial agg (listed last) is the per-row one
    deepest = partials[-1]
    assert "cast(round(" in deepest and "as bigint)" in deepest, deepest
    assert "decimal(28" not in deepest and "decimal(18" not in deepest, (
        deepest)


def test_corpus_bloom_probe_all_joins_broadcast(spark, sf_dir):
    """bloom_decontaminate's PROBE joins (the broadcast filter row and
    the exact-hit eval set) must be broadcast — a SortMergeJoin there
    would mean the constant-size filter stopped being the broadcast
    side. The r14 membership join-back (train doc ids LEFT JOIN the
    per-doc verdicts, so sub-shingle-width docs get explicit rows) is
    the ONE allowed sort-merge join: both of its sides are
    corpus-sized and co-keyed on doc_id, so SMJ is the correct 100 TB
    shape there (a forced broadcast would OOM the driver; AQE
    converts it at fixture scale)."""
    from mapreduce_go_spark.operators import corpus

    p = plan_of(corpus.bloom_decontaminate(spark, sf_dir))
    smj = [ln for ln in p.splitlines()
           if re.match(r"^\(\d+\) SortMergeJoin", ln)]
    assert len(smj) <= 1, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_corpus_boilerplate_no_line_key_collect(spark, sf_dir):
    """The line-frequency relation must stay aggregate-only: the only
    collect_list in the strip plan is the per-DOC reassembly (bounded
    by document length); the line-key groupBy carries count aggregates
    only. Two Exchanges on the line side (partial/final agg + the
    join) and the doc-side agg — pinned at 5 with the spread."""
    from mapreduce_go_spark.operators import corpus

    p = plan_of(corpus.strip_boilerplate_lines(spark, sf_dir))
    # exactly ONE collect_list aggregate in the whole plan (the
    # formatted explain mentions it once as partial_collect_list)
    assert p.count("partial_collect_list") == 1, p
    stats = plan_of(corpus.boilerplate_line_stats(spark, sf_dir))
    assert "collect_list" not in stats, stats
    for plan in (p, stats):
        n = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
        assert n == 5, (n, plan)


def test_corpus_url_dedup_single_exchange(spark, sf_dir):
    """URL dedup is canonicalize (mapper-only) + one groupBy on the
    canonical key: exactly one shuffle, with partial aggregation
    before it (map-side combine on min/count)."""
    from mapreduce_go_spark.operators import corpus

    p = plan_of(corpus.url_dedup(spark, sf_dir))
    n = len(re.findall(r"^\(\d+\) Exchange\b", p, re.M))
    assert n == 1, (n, p)
    assert "partial_min" in p or "partial" in p.lower(), p


def test_q3_q10_bucketed_twins_save_lineitem_exchange(spark, sf_dir):
    """The late-r8 twins route the customer-side work first and meet
    LINEITEM on its bucketed layout: with broadcast disabled each twin
    plans exactly ONE fewer Exchange than its plain query — the
    lineitem one, the largest relation in the plan (the li branch
    feeds its SortMergeJoin straight from the bucket-sorted scan)."""
    from mapreduce_go_spark.operators import tpch

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffles = re.compile(r"^\(\d+\) Exchange\b", re.MULTILINE)
        for plain_fn, twin_fn in (
                (tpch.q3_shipping_priority,
                 tpch.q3_shipping_priority_bucketed),
                (tpch.q10_returned_items,
                 tpch.q10_returned_items_bucketed)):
            plain = len(shuffles.findall(plan_of(plain_fn(spark, sf_dir))))
            twin_plan = plan_of(twin_fn(spark, sf_dir))
            twin = len(shuffles.findall(twin_plan))
            assert twin == plain - 1, (
                plain_fn.__name__, plain, twin, twin_plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_static_partition_pruning_reaches_scan(spark, sf_dir):
    """partition_pruned_daily's date range must arrive as a
    PartitionFilter on the day-partitioned scan — directory
    elimination, not row filtering."""
    from mapreduce_go_spark.operators import pruning

    p = plan_of(pruning.partition_pruned_daily(spark, sf_dir))
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and "event_date" in pf[0], p
    # and the row-data Filter must NOT re-test the partition predicate
    assert "dynamicpruning" not in p.lower(), p


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """dpp_enriched_revenue never states the dates — they arrive only
    through the filtered dim join, so the fact scan must carry a
    dynamicpruning expression (Spark's runtime partition pruning, the
    star-schema scan saver at scale)."""
    from mapreduce_go_spark.operators import pruning

    p = plan_of(pruning.dpp_enriched_revenue(spark, sf_dir))
    assert "dynamicpruning" in p.lower(), p


def test_scd2_single_exchange_single_sort(spark, sf_dir):
    """scd2_user_dim's change-detection and interval windows share one
    (user_id; ts, event_id) partitioning+order, so the whole dimension
    build must plan ONE Exchange and ONE Sort — two Window nodes riding
    the same shuffle. A second sort/exchange would double the only
    scale cost the operator has."""
    from mapreduce_go_spark.operators import warehouse

    p = plan_of(warehouse.scd2_user_dim(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange\b", p, re.M)) == 1, p
    assert len(re.findall(r"^\(\d+\) Sort\b", p, re.M)) == 1, p
    assert len(re.findall(r"^\(\d+\) Window\b", p, re.M)) == 2, p


def test_merge_upsert_full_outer_smj_no_driver_path(spark, sf_dir):
    """merge_upsert_customers must run the four MERGE arms through a
    full-outer SortMergeJoin (a CDC batch can be arbitrarily large —
    never broadcast, never nested-loop) with the change batch built by
    a map-side-combinable aggregate."""
    from mapreduce_go_spark.operators import warehouse

    p = plan_of(warehouse.merge_upsert_customers(spark, sf_dir))
    assert "SortMergeJoin" in p and "FullOuter" in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "partial_sum" in p, p  # the orders agg combines map-side


def test_contrastive_pairs_count_is_broadcast(spark, sf_dir):
    """contrastive_pairs reaches the corpus count as a broadcast 1-row
    aggregate — the plan must show no CartesianProduct (the crossJoin
    is against a broadcast singleton) and no driver-side action exists
    in the operator at all."""
    p = plan_of(pipeline.contrastive_pairs(spark, sf_dir))
    assert "CartesianProduct" not in p, p


def test_token_chunker_zero_exchange(spark, sf_dir):
    """token_chunks_overlap is one map-side pass: split -> sequence ->
    explode -> slice, with NO shuffle anywhere — the property that
    makes it free at 100 TB. A future edit that sneaks in a groupBy
    or repartition must fail here."""
    p = plan_of(pipeline.token_chunks_overlap(spark, sf_dir))
    assert "Exchange" not in p, p


def test_domain_mix_windowgrouplimit_fires(spark, sf_dir):
    """domain_mix_temperature's per-source draw must carry the
    WindowGroupLimit partial below the source shuffle — that is what
    the constant rn <= MIX_BUDGET prefilter exists for (a plain
    rn <= quota column comparison would not qualify and every row of
    every source would reach the exchange)."""
    from mapreduce_go_spark.operators import quality

    p = plan_of(quality.domain_mix_temperature(spark, sf_dir))
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p, p


def test_multiprobe_lsh_broadcasts_query_side(spark, sf_dir):
    """ann_lsh_multiprobe_topk's probe fan-out multiplies only the
    broadcast query side (queries x bands x 7 rows); the candidate
    join against the full signature table must be a broadcast hash
    join, never a shuffle of the table side or a cartesian."""
    p = plan_of(similarity.ann_lsh_multiprobe_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_hll_single_scan_of_documents(spark, sf_dir):
    """ee2b2ad's one-pass claim, pinned (VERDICT r11 item 4): the HLL
    batch queries scan+explode the corpus ONCE — registers and the
    exact distinct count ride the same deduped pass. Catalyst's
    RemoveRedundantAggregates once silently stripped the shared dedup
    and planned a second full scan; if a refactor reintroduces that,
    this goes red."""
    from mapreduce_go_spark.operators import quality

    for q in (quality.hll_distinct_tokens, quality.hll_distinct_by_source):
        p = plan_of(q(spark, sf_dir))
        # one "Location: ... documents.parquet" detail line per scan
        # node (the tree section's "Scan parquet (n)" lines carry no
        # path, so count the detail blocks)
        scans = [ln for ln in p.splitlines()
                 if "Location:" in ln and "documents.parquet" in ln]
        assert len(scans) == 1, (q.__name__, p)


def test_cms_single_scan_of_documents(spark, sf_dir):
    """r15: both CMS queries derive sketch cells, vocabulary and
    exact counts from ONE per-token count relation whose shuffle is
    reused (before: three/two independent scan+split+explode lineages
    per run). The reuse is an exchange-level decision, so the pin
    reads the EXECUTED plan's final section: exactly one parquet scan
    and at least one ReusedExchange. Also pins the join-not-isin
    probe shape in cms_token_counts — an isin filter pushes through
    the aggregate and forks the vocabulary exchange."""
    from mapreduce_go_spark.operators import quality

    for q in (quality.cms_heavy_hitters, quality.cms_token_counts):
        df = q(spark, sf_dir)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        final = p.split("== Initial Plan ==")[0]
        scans = [ln for ln in final.splitlines()
                 if "FileScan parquet" in ln]
        assert len(scans) == 1, (q.__name__, final)
        assert "ReusedExchange" in final, (q.__name__, final)


def test_binary_hamming_coarse_is_windowgrouplimit(spark, sf_dir):
    """ann_binary_hamming_topk's coarse stage emits N_table x
    N_QUERIES (q_id, c_id, hamming) rows; the constant rn <=
    BQ_COARSE_C filter must fire WindowGroupLimit so each map
    partition forwards only C rows per query to the q_id exchange —
    without it the full candidate score set shuffles, which is the
    difference between a bounded and an O(table) exchange at 100 TB.
    Same pin for matryoshka's prefix-cosine coarse stage."""
    for q in (similarity.ann_binary_hamming_topk,
              similarity.matryoshka_two_stage_topk):
        p = plan_of(q(spark, sf_dir))
        assert "WindowGroupLimit" in p, (q.__name__, p)
        assert "CartesianProduct" not in p, (q.__name__, p)


def test_ivf_hamming_coarse_is_cell_pruned(spark, sf_dir):
    """ann_ivf_hamming_topk (and the hybrid riding its candidates)
    exists to retire the registry's last full-table dense scan: the
    plain binary-Hamming coarse stage is a BroadcastNestedLoopJoin of
    all vectors against the broadcast query side. The composed plan
    must have NO nested-loop join anywhere — its coarse stage reaches
    the packed words through equi-joins on the probed cell id (the
    partition-prunable shape at 100 TB) — while keeping the
    WindowGroupLimit bound on the candidate rank and zero
    cartesians."""
    for q in (similarity.ann_ivf_hamming_topk,
              similarity.hybrid_rrf_ann_topk):
        p = plan_of(q(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in p, (q.__name__, p)
        assert "WindowGroupLimit" in p, (q.__name__, p)
        assert "CartesianProduct" not in p, (q.__name__, p)
        # the coarse scan reads the cluster-partitioned layout table
        # (_ivf_layout_table) and the broadcast probe list DYNAMICALLY
        # prunes its partitions — the literal 100 TB claim, in the
        # plan: only nprobe/k of the sign words are ever read
        assert "dynamicpruningexpression(cluster" in p, (q.__name__, p)


def test_ivf_pq_scan_is_cell_pruned_and_code_width(spark, sf_dir):
    """ann_ivf_pq_topk (the FAISS-standard IVF-PQ composition) exists
    to retire ann_pq_topk's full ADC code scan: its coarse stage must
    read the cluster-partitioned layout table through the broadcast
    probe list's DYNAMIC partition pruning (only nprobe/k of the codes
    are ever read), the ADC gather must be pure JVM (the one encode
    pass happened at layout-build time — no row-Python in the query
    plan), and the layout scan must be COLUMN-pruned to the code
    array: reading the sign words here would silently double the
    scan width the 100 TB claim prices at M=8 bytes/vector."""
    p = plan_of(similarity.ann_ivf_pq_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "WindowGroupLimit" in p, p
    assert "dynamicpruningexpression(cluster" in p, p
    layout_scans = [ln for ln in p.splitlines()
                    if "ReadSchema" in ln and "codes" in ln]
    assert layout_scans, p
    for ln in layout_scans:
        assert "w0" not in ln and "w1" not in ln, ln


def test_dsir_selection_avoids_global_window(spark, sf_dir):
    """dsir_importance_sample emits EVERY document (score + flag), so
    a global rank would drag the whole scored corpus through one
    partition. The plan must instead find the K-th weight via
    TakeOrderedAndProject (per-partition top-K) and broadcast it as a
    threshold — no Window node at all — and the per-token scoring
    join against the 128-row ratio relation must be broadcast."""
    from mapreduce_go_spark.operators import pipeline as pl

    # the query localCheckpoints the per-doc weights, which replaces
    # the scoring lineage with a Scan ExistingRDD in its final plan;
    # the same two stages composed without the checkpoint show the
    # nodes pinned here
    p = plan_of(pl._dsir_select(pl._dsir_per_doc(spark, sf_dir)))
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p
    # and the query DOES checkpoint (the per-doc relation appears as
    # an RDD scan exactly once)
    pc = plan_of(pl.dsir_importance_sample(spark, sf_dir))
    assert "ExistingRDD" in pc, pc
    assert "Window" not in pc, pc


def test_hybrid_rrf_pools_are_bounded(spark, sf_dir):
    """hybrid_rrf_topk's three rank stages (dense pool, lexical pool,
    fused top-k) all filter on constants — WindowGroupLimit must
    bound each before its exchange, and no stage may be a cartesian.
    The lexical sizes join on the candidate side stays SMJ (both
    sides unbounded at scale — the no-force-broadcast policy)."""
    p = plan_of(similarity.hybrid_rrf_topk(spark, sf_dir))
    assert p.count("WindowGroupLimit") >= 3, p
    assert "CartesianProduct" not in p, p
