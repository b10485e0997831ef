"""Accuracy bounds for approximate aggregates (no value oracle by
construction — sketches are engine-specific)."""

from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.operators import advanced


def test_approx_distinct_within_5pct(spark, sf_dir):
    apx = {r.l_returnflag: (r.apx_parts, r.apx_supps)
           for r in advanced.approx_distinct(spark, sf_dir).collect()}
    li = tables.load(spark, sf_dir, "lineitem")
    exact = {r.l_returnflag: (r.n_part, r.n_supp)
             for r in li.groupBy("l_returnflag").agg(
                 F.countDistinct("l_partkey").alias("n_part"),
                 F.countDistinct("l_suppkey").alias("n_supp")).collect()}
    for k, (ap, asu) in apx.items():
        ep, es = exact[k]
        assert abs(ap - ep) / ep < 0.05, (k, ap, ep)
        assert abs(asu - es) / es < 0.05, (k, asu, es)


def test_approx_quantile_within_range(spark, sf_dir):
    apx = {r.l_returnflag: (r.apx_median, r.apx_p90)
           for r in advanced.approx_quantile(spark, sf_dir).collect()}
    exact = {r.l_returnflag: (r.median_price, r.p90_price)
             for r in advanced.exact_median(spark, sf_dir).collect()}
    for k, (am, a90) in apx.items():
        em, e90 = exact[k]
        assert abs(am - em) / em < 0.05, (k, am, em)
        assert abs(a90 - e90) / e90 < 0.05, (k, a90, e90)


def test_hist_quantiles_error_bound_holds(spark, sf_dir):
    """The mergeable-histogram guarantee must actually hold, not just
    ride along as an output column: every err_ok is true, and the
    signed error sits in the theorem's interval 0 < est - exact <=
    one bin width (est is the upper edge of the bin containing the
    rank-ceil(q*n) order statistic). A silent violation would pass
    the differential — both engines compute err_ok identically — so
    this asserts the VALUES."""
    rows = advanced.hist_quantiles(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.err_ok, r
        err = r.est_hist - r.exact_q
        assert 0 < err <= advanced.HIST_BIN_W, r


def test_hist_quantiles_exact_rank_is_order_statistic(spark, sf_dir):
    """r16: the exact-rank rider no longer sorts the whole table (the
    bin-targeted probe finds rank ceil(q*n) inside the one histogram
    bin the sketch brackets it into) — pin exact_q against the
    DEFINITIONAL order statistic: the rank-ceil(q*n) element of the
    fully sorted per-group price list, computed in plain Python."""
    import math

    li = tables.load(spark, sf_dir, "lineitem")
    prices = {}
    for r in li.select("l_returnflag", "l_extendedprice").collect():
        prices.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    for v in prices.values():
        v.sort()
    rows = advanced.hist_quantiles(spark, sf_dir).collect()
    assert {r.l_returnflag for r in rows} == set(prices)
    assert len(rows) == len(prices) * len(advanced.HIST_QS)
    for r in rows:
        v = prices[r.l_returnflag]
        want = v[math.ceil(r.q * len(v)) - 1]
        assert r.exact_q == round(want, 4), (r, want)


def test_embedding_neardup_blocked_recall(spark, sf_dir):
    """embedding_neardup_pairs_blocked's recall contract vs its exact
    all-pairs oracle (embedding_neardup_pairs): blocked results are a
    strict SUBSET of the exact results (blocking never invents pairs,
    and the fixture banding provably misses some), and recall stays
    above the calibrated floor. Guards against silent banding/cap
    drift — the round-2 advisory was exactly that the blocked variant
    shipped under the exact variant's name with ~49% recall."""
    from mapreduce_go_spark.operators import similarity

    exact = {(r.d1, r.d2)
             for r in similarity.embedding_neardup_pairs(
                 spark, sf_dir).collect()}
    blocked = {(r.d1, r.d2)
               for r in similarity.embedding_neardup_pairs_blocked(
                   spark, sf_dir).collect()}
    assert blocked < exact, (len(blocked), len(exact))
    recall = len(blocked) / len(exact)
    assert 0.35 <= recall <= 0.75, recall


def test_embedding_bucket_cap_exercised(spark, sf_dir):
    """EMB_BUCKET_CAP must actually drop >=1 over-cap bucket on the
    fixtures — otherwise the capped code path is vacuously green (the
    same discipline dedup's LSH_BUCKET_CAP calibration follows)."""
    from mapreduce_go_spark.operators import similarity as sim
    from mapreduce_go_spark import tables
    from pyspark.sql import functions as F

    # the band keys embedding_neardup_pairs_blocked itself buckets on
    emb = tables.load(spark, sf_dir, "embeddings")
    bands = emb.select(
        F.posexplode(sim._BAND_KEYS_ND(F.col("embedding")))
        .alias("band", "band_key"))
    over = (bands.groupBy("band", "band_key").count()
            .where(F.col("count") > sim.EMB_BUCKET_CAP).count())
    assert over >= 1, "cap never exercised on fixtures — recalibrate"


def test_simhash_capped_is_subset_and_cap_exercised(spark, sf_dir):
    """The capped simhash pairs must be exactly the uncapped relation
    minus pairs that only collide in over-cap (degenerate) buckets —
    in particular a subset — and the fixture must actually contain an
    over-cap band bucket so the drop path runs."""
    from pyspark.sql import functions as F

    from mapreduce_go_spark.operators import dedup

    capped = {(r.d1, r.d2) for r in
              dedup.simhash_neardup_pairs_capped(spark, sf_dir).collect()}
    uncapped = {(r.d1, r.d2) for r in
                dedup.simhash_neardup_pairs(spark, sf_dir).collect()}
    assert capped <= uncapped
    assert len(capped) < len(uncapped), \
        "cap dropped nothing — recalibrate SIMHASH_BUCKET_CAP"
    sig = dedup.simhash(spark, sf_dir)
    bands = sig.select(F.explode(F.array(*[
        F.substring("simhash", 1 + 16 * b, 16)
        for b in range(dedup.SIMHASH_BANDS)
    ])).alias("bk"))
    over = (bands.groupBy("bk").count()
            .where(F.col("count") > dedup.SIMHASH_BUCKET_CAP).count())
    assert over >= 1


def test_ann_pq_recall_floor(spark, sf_dir):
    """ann_pq_topk's recall contract vs exact knn: the fixture's
    near-random vectors are PQ's hardest case (no planted neighbor
    structure, cosine spectrum is tight), and the measured mean
    recall@10 with the 100-item ADC shortlist is 0.84 — the floor
    pins calibration drift, not aspiration. Re-ranked scores are
    exact cosines, so every returned (q_id, c_id) that IS in the
    exact top-10 carries the identical cos value."""
    from collections import defaultdict

    from mapreduce_go_spark.operators import similarity

    pq_rows = similarity.ann_pq_topk(spark, sf_dir).collect()
    knn_rows = similarity.knn_cosine_topk(spark, sf_dir).collect()
    pq, knn = defaultdict(set), defaultdict(set)
    cos_pq, cos_knn = {}, {}
    for r in pq_rows:
        pq[r.q_id].add(r.c_id)
        cos_pq[(r.q_id, r.c_id)] = r.cos
    for r in knn_rows:
        knn[r.q_id].add(r.c_id)
        cos_knn[(r.q_id, r.c_id)] = r.cos
    assert set(pq) == set(knn)
    recalls = [len(pq[q] & knn[q]) / len(knn[q]) for q in knn]
    assert sum(recalls) / len(recalls) >= 0.75, recalls
    for key in set(cos_pq) & set(cos_knn):
        assert cos_pq[key] == cos_knn[key], key


def test_ann_pq_deterministic_across_runs(spark, sf_dir):
    """Training sample, init, iteration count, and argmin tie-breaks
    are all fixed -> two independent runs (fresh codebook training
    included) return identical rows."""
    from mapreduce_go_spark.operators import similarity

    a = sorted(map(tuple, similarity.ann_pq_topk(spark, sf_dir).collect()))
    b = sorted(map(tuple, similarity.ann_pq_topk(spark, sf_dir).collect()))
    assert a == b


def test_semantic_dedup_keep_matches_blocked_pairs(spark, sf_dir):
    """is_dup is exactly 'appears as d2 in the blocked pairs' — and
    at least one keeper of each near-dup group survives (the lowest
    id of a group is never anyone's d2... it can be a d2 of another
    group member only with a smaller id, which contradicts minimality
    within the group edge set)."""
    from mapreduce_go_spark.operators import similarity

    pairs = similarity.embedding_neardup_pairs_blocked(
        spark, sf_dir).collect()
    d2s = {r.d2 for r in pairs}
    flags = {r.vec_id: r.is_dup
             for r in similarity.semantic_dedup_keep(spark, sf_dir).collect()}
    for vid, f in flags.items():
        assert f == (vid in d2s), (vid, f)
    # every flagged doc has a surviving earlier partner
    keepers = {v for v, f in flags.items() if not f}
    partner = {}
    for r in pairs:
        partner.setdefault(r.d2, set()).add(r.d1)
    for v in d2s:
        assert any(p < v for p in partner[v]), v


def test_hll_rho_integer_identity():
    """The engine-portable rho (trailing zeros + 1 via
    bit_count((w & -w) - 1) + 1) must equal the textbook definition
    for every bit position and assorted composites."""
    def rho(w):
        return bin((w & -w) - 1).count("1") + 1 if w else None

    for k in range(42):
        assert rho(1 << k) == k + 1
        assert rho((1 << k) | (1 << 41)) == k + 1
    assert rho(0b1011000) == 4
    assert rho(3 << 20) == 21


def test_hll_matches_spark_approx(spark, sf_dir):
    """Our from-scratch HLL and Spark's native approx_count_distinct
    must land in the same neighborhood of the exact count — two
    independent sketches agreeing brackets both implementations."""
    from pyspark.sql import functions as F

    from mapreduce_go_spark.operators.quality import hll_distinct_tokens

    row = hll_distinct_tokens(spark, sf_dir).collect()[0]
    assert row.within_bounds
    assert len(row.registers.split(",")) == 64


def test_ann_ivf_nprobe_recall_above_single_cell(spark, sf_dir):
    """ann_ivf_nprobe_topk's contract: probing IVF_NPROBE=3 cells
    must strictly beat the 1-cell ann_ivf_topk on recall@10 vs exact
    knn — the recall/cost knob is the whole point of the variant.
    Fixture vectors are near-random (label cells carry no neighbor
    structure), so the measured recalls are low by design: 1-cell
    0.10-0.125, 3-cell 0.41-0.45 at sf0.001/sf0.01 — the 3.3x lift
    comes purely from candidate coverage (3/10 of the table), which
    is exactly what the floor below pins. The returned scores are
    exact grid cosines, so any (q_id, c_id) shared with exact knn
    must carry the identical cos value."""
    from collections import defaultdict

    from mapreduce_go_spark.operators import similarity

    knn_rows = similarity.knn_cosine_topk(spark, sf_dir).collect()
    one_rows = similarity.ann_ivf_topk(spark, sf_dir).collect()
    multi_rows = similarity.ann_ivf_nprobe_topk(spark, sf_dir).collect()
    knn, one, multi = defaultdict(set), defaultdict(set), defaultdict(set)
    cos_knn, cos_multi = {}, {}
    for r in knn_rows:
        knn[r.q_id].add(r.c_id)
        cos_knn[(r.q_id, r.c_id)] = r.cos
    for r in one_rows:
        one[r.q_id].add(r.c_id)
    for r in multi_rows:
        multi[r.q_id].add(r.c_id)
        cos_multi[(r.q_id, r.c_id)] = r.cos

    def mean_recall(approx):
        return sum(len(approx[q] & knn[q]) / len(knn[q])
                   for q in knn) / len(knn)

    r1, r3 = mean_recall(one), mean_recall(multi)
    assert r3 > r1, (r1, r3)
    assert r3 >= 0.35, r3
    for key in set(cos_multi) & set(cos_knn):
        assert cos_multi[key] == cos_knn[key], key


def test_ann_ivf_nprobe_partition_invariant(spark, sf_dir):
    """The nprobe cell ranking must not depend on physical
    partitioning: centroid scores are exact-integer sums cast to
    double, so re-partitioning the input (different partial-agg
    order) must yield the identical result set — the operator's
    cross-engine exactness claim, tested within-engine."""
    from mapreduce_go_spark import tables
    from mapreduce_go_spark.operators import similarity

    base = sorted(map(tuple, similarity.ann_ivf_nprobe_topk(
        spark, sf_dir).collect()))
    orig = tables.load
    try:
        def shuffled(s, d, name):
            df = orig(s, d, name)
            return df.repartition(7) if name == "embeddings" else df
        tables.load = shuffled
        alt = sorted(map(tuple, similarity.ann_ivf_nprobe_topk(
            spark, sf_dir).collect()))
    finally:
        tables.load = orig
    assert alt == base


def test_ann_lsh_multiprobe_recall_above_single_probe(spark, sf_dir):
    """Multi-probe LSH's contract: probing the Hamming-distance-1
    buckets must strictly beat the single-probe ann_lsh_topk on
    recall@10 vs exact knn. Measured on the near-random fixtures:
    single-probe 0.025-0.087, multi-probe 0.30-0.39 (sf0.01/sf0.001)
    — a 4.5-12x lift from 7x the probes, the Lv et al. trade the
    operator exists to make. Shared (q_id, c_id) results must carry
    identical exact cosines."""
    from collections import defaultdict

    from mapreduce_go_spark.operators import similarity

    knn_rows = similarity.knn_cosine_topk(spark, sf_dir).collect()
    one_rows = similarity.ann_lsh_topk(spark, sf_dir).collect()
    multi_rows = similarity.ann_lsh_multiprobe_topk(
        spark, sf_dir).collect()
    knn, one, multi = defaultdict(set), defaultdict(set), defaultdict(set)
    cos_knn, cos_multi = {}, {}
    for r in knn_rows:
        knn[r.q_id].add(r.c_id)
        cos_knn[(r.q_id, r.c_id)] = r.cos
    for r in one_rows:
        one[r.q_id].add(r.c_id)
    for r in multi_rows:
        multi[r.q_id].add(r.c_id)
        cos_multi[(r.q_id, r.c_id)] = r.cos

    def mean_recall(approx):
        return sum(len(approx[q] & knn[q]) / len(knn[q])
                   for q in knn) / len(knn)

    r1, rm = mean_recall(one), mean_recall(multi)
    assert rm > r1, (r1, rm)
    assert rm >= 0.25, rm
    for key in set(cos_multi) & set(cos_knn):
        assert cos_multi[key] == cos_knn[key], key


def test_zero_embedding_vector_never_ranks(spark, sf_dir):
    """A zero embedding vector must not crash the cosine queries or
    claim a top-k seat: before the r10 guard, 0/0 produced NaN, which
    Spark orders ABOVE every real cosine (instant rank-1 everywhere)
    and which the ANSI decimal display cast then rejects, killing the
    query. With the guard the zero vector's cosine is NULL (sorts
    last under DESC in both engines)."""
    from mapreduce_go_spark import tables
    from mapreduce_go_spark.operators import similarity

    orig = tables.load
    try:
        def with_zero(s, d, name):
            df = orig(s, d, name)
            if name != "embeddings":
                return df
            from pyspark.sql import functions as F

            dim = len(df.select("embedding").first()[0])
            zero = s.createDataFrame(
                [(999999, [0.0] * dim, 0)],
                "vec_id long, embedding array<float>, label int")
            return df.unionByName(zero)
        tables.load = with_zero
        base = similarity.knn_cosine_topk(spark, sf_dir).collect()
        assert all(r.c_id != 999999 for r in base)
        assert len(base) > 0
        multi = similarity.ann_ivf_nprobe_topk(spark, sf_dir).collect()
        assert all(r.c_id != 999999 for r in multi)
    finally:
        tables.load = orig


def test_events_event_id_unique(spark, sf_dir):
    """asof_join's oracle partitions by event_id (rn=1 per id), while
    the Spark side emits one row per event ROW — the two agree only
    under the fixture contract that event_id is globally unique and
    non-null. Pin the contract so a future fixture/synthesis change
    fails HERE with a named reason, not as a spurious engine-diff."""
    from pyspark.sql import functions as F

    from mapreduce_go_spark import tables

    ev = tables.load(spark, sf_dir, "events")
    total, distinct, nulls = ev.agg(
        F.count("*"), F.countDistinct("event_id"),
        F.sum(F.col("event_id").isNull().cast("int"))).collect()[0]
    assert nulls == 0
    assert total == distinct


def test_ann_ivf_trained_recall_floor(spark, sf_dir):
    """ann_ivf_trained_topk's contract (VERDICT r10 item 2): cells
    from a TRAINED coarse quantizer with nprobe=2 of k=8 must reach
    at least the recall@10 of the fixture-label 1-cell ann_ivf_topk —
    the trained codebook replaces the family's one artificial piece,
    so it must not cost recall. Candidate coverage alone (2/8 vs 1/10
    of the table) plus learned cell geometry should clear the floor
    with margin; scores shared with exact knn must be identical (the
    same grid-cosine exactness claim every ANN variant carries)."""
    from collections import defaultdict

    from mapreduce_go_spark.operators import similarity

    knn_rows = similarity.knn_cosine_topk(spark, sf_dir).collect()
    label_rows = similarity.ann_ivf_topk(spark, sf_dir).collect()
    trained_rows = similarity.ann_ivf_trained_topk(spark, sf_dir).collect()
    knn, lab, tr = defaultdict(set), defaultdict(set), defaultdict(set)
    cos_knn, cos_tr = {}, {}
    for r in knn_rows:
        knn[r.q_id].add(r.c_id)
        cos_knn[(r.q_id, r.c_id)] = r.cos
    for r in label_rows:
        lab[r.q_id].add(r.c_id)
    for r in trained_rows:
        tr[r.q_id].add(r.c_id)
        cos_tr[(r.q_id, r.c_id)] = r.cos

    def mean_recall(approx):
        return sum(len(approx[q] & knn[q]) / len(knn[q])
                   for q in knn) / len(knn)

    r_label, r_trained = mean_recall(lab), mean_recall(tr)
    assert r_trained >= r_label, (r_label, r_trained)
    # measured: 0.8625 at sf0.01 (vs 0.4125 nprobe-3-label, 0.125
    # 1-cell) — the learned cell geometry, not just the 2/8 coverage;
    # 0.5 leaves headroom for fixture-scale variation
    assert r_trained >= 0.5, r_trained
    for key in set(cos_tr) & set(cos_knn):
        assert cos_tr[key] == cos_knn[key], key


def test_ann_ivf_trained_probe_list_partition_invariant(spark, sf_dir):
    """The trained probe list and final result must not depend on
    physical partitioning: training sums, assignment argmins and the
    probe ranking are all exact int64 grid quantities, so a
    repartitioned input (different partial-agg order) must produce
    the identical result set."""
    from mapreduce_go_spark.operators import similarity

    base = {tuple(r) for r in
            similarity.ann_ivf_trained_topk(spark, sf_dir).collect()}
    import mapreduce_go_spark.tables as tables
    orig_load = tables.load

    def shuffled_load(spark_, sf_dir_, name):
        df = orig_load(spark_, sf_dir_, name)
        return df.repartition(7) if name == "embeddings" else df

    tables.load = shuffled_load
    try:
        shuf = {tuple(r) for r in
                similarity.ann_ivf_trained_topk(spark, sf_dir).collect()}
    finally:
        tables.load = orig_load
    assert base == shuf


def test_ann_ivf_trained_sampled_codebook_recall_floor(spark, sf_dir):
    """The 100 TB training path (VERDICT r11 item 6): a codebook
    trained on a deterministic xxhash64(vec_id) half-sample must stay
    a useful coarse quantizer — recall@10 well above the fixture-label
    1-cell baseline and within family range of full training. Measured
    at sf0.01: full 0.8625, frac=0.5 0.6375, 1-cell label 0.125 (the
    fixture's near-random vectors are the worst case for a sampled
    codebook; real corpora cluster). Scores shared with exact knn stay
    identical — sampling changes WHICH cells exist, never the grid
    cosine."""
    from collections import defaultdict

    from mapreduce_go_spark.operators import similarity

    knn, tr = defaultdict(set), defaultdict(set)
    cos_knn, cos_tr = {}, {}
    for r in similarity.knn_cosine_topk(spark, sf_dir).collect():
        knn[r.q_id].add(r.c_id)
        cos_knn[(r.q_id, r.c_id)] = r.cos
    for r in similarity.ann_ivf_trained_topk(
            spark, sf_dir, sample_frac=0.5).collect():
        tr[r.q_id].add(r.c_id)
        cos_tr[(r.q_id, r.c_id)] = r.cos
    recall = sum(len(tr[q] & knn[q]) / len(knn[q]) for q in knn) / len(knn)
    assert recall >= 0.4, recall
    for key in set(cos_tr) & set(cos_knn):
        assert cos_tr[key] == cos_knn[key], key


def test_ann_binary_hamming_recall_floor_and_exact_scores(spark, sf_dir):
    """Binary-quantization ANN: 1-bit sign signatures + Hamming
    coarse top-40 must stay a useful candidate generator even on the
    fixture's near-random vectors (the worst case for sign bits —
    real embedding spaces are anisotropic and quantize better).
    Measured 0.5625 recall@10 at sf0.01; 0.4 leaves fixture-scale
    headroom. Scores shared with exact knn are identical — the
    re-rank is the same grid cosine."""
    from collections import defaultdict

    from mapreduce_go_spark.operators import similarity

    knn, bq = defaultdict(set), defaultdict(set)
    cos_knn, cos_bq = {}, {}
    for r in similarity.knn_cosine_topk(spark, sf_dir).collect():
        knn[r.q_id].add(r.c_id)
        cos_knn[(r.q_id, r.c_id)] = r.cos
    for r in similarity.ann_binary_hamming_topk(spark, sf_dir).collect():
        bq[r.q_id].add(r.c_id)
        cos_bq[(r.q_id, r.c_id)] = r.cos
    recall = sum(len(bq[q] & knn[q]) / len(knn[q]) for q in knn) / len(knn)
    assert recall >= 0.4, recall
    for key in set(cos_bq) & set(cos_knn):
        assert cos_bq[key] == cos_knn[key], key


def test_matryoshka_recall_floor_and_exact_scores(spark, sf_dir):
    """Matryoshka two-stage: a 16/64 prefix carries only ~1/4 of the
    signal on RANDOM vectors, so the fixture measures the recall
    FLOOR of the serving pattern (MRL-trained embeddings front-load
    information; real prefixes recall far higher). Measured 0.4375
    recall@10 at sf0.01; assert 0.3. Re-rank scores shared with knn
    are identical grid cosines."""
    from collections import defaultdict

    from mapreduce_go_spark.operators import similarity

    knn, mr = defaultdict(set), defaultdict(set)
    cos_knn, cos_mr = {}, {}
    for r in similarity.knn_cosine_topk(spark, sf_dir).collect():
        knn[r.q_id].add(r.c_id)
        cos_knn[(r.q_id, r.c_id)] = r.cos
    for r in similarity.matryoshka_two_stage_topk(spark, sf_dir).collect():
        mr[r.q_id].add(r.c_id)
        cos_mr[(r.q_id, r.c_id)] = r.cos
    recall = sum(len(mr[q] & knn[q]) / len(knn[q]) for q in knn) / len(knn)
    assert recall >= 0.3, recall
    for key in set(cos_mr) & set(cos_knn):
        assert cos_mr[key] == cos_knn[key], key


def test_ann_ivf_hamming_recall_floor_and_exact_scores(spark, sf_dir):
    """IVF-Hamming composition (VERDICT r13 item 1): pruning the
    Hamming coarse scan to the probed trained cells must not cost
    recall vs the full-table binary scan — the one-cell-wider probe
    (IVF_HAM_NPROBE=3 vs trained's 2) buys it back. Measured
    composed-vs-plain recall@10: 0.7375 vs 0.5625 (sf0.001), 0.6375
    vs 0.5625 (sf0.01), 0.3875 vs 0.3250 (sf0.1) — composed >= plain
    at every scale, and the plain variant's 0.4 floor holds at the
    default fixture. Scores shared with exact knn are identical —
    the re-rank is the same grid cosine."""
    from collections import defaultdict

    from mapreduce_go_spark.operators import similarity

    knn, comp, plain = defaultdict(set), defaultdict(set), defaultdict(set)
    cos_knn, cos_comp = {}, {}
    for r in similarity.knn_cosine_topk(spark, sf_dir).collect():
        knn[r.q_id].add(r.c_id)
        cos_knn[(r.q_id, r.c_id)] = r.cos
    for r in similarity.ann_ivf_hamming_topk(spark, sf_dir).collect():
        comp[r.q_id].add(r.c_id)
        cos_comp[(r.q_id, r.c_id)] = r.cos
    for r in similarity.ann_binary_hamming_topk(spark, sf_dir).collect():
        plain[r.q_id].add(r.c_id)
    n = len(knn)
    r_comp = sum(len(comp[q] & knn[q]) / len(knn[q]) for q in knn) / n
    r_plain = sum(len(plain[q] & knn[q]) / len(knn[q]) for q in knn) / n
    assert r_comp >= 0.4, r_comp
    assert r_comp >= r_plain - 1e-9, (r_comp, r_plain)
    for key in set(cos_comp) & set(cos_knn):
        assert cos_comp[key] == cos_knn[key], key


def test_ann_ivf_pq_recall_floor_and_exact_scores(spark, sf_dir):
    """IVF-PQ composition (VERDICT r14's named successor to the plain
    ADC scan): restricting ADC to the IVF_PQ_NPROBE probed cells must
    not cost recall vs the full-code scan — the cell restriction
    actually HELPS, because distant vectors that quantization error
    would promote into the ADC shortlist never enter it. Measured
    composed-vs-plain recall@10: 0.9375 vs 0.8625 (sf0.001), 0.9000
    vs 0.8375 (sf0.01), 0.7000 vs 0.6750 (sf0.1) — composed >= plain
    at every scale; assert a 0.5 floor at the default fixture plus
    the ordering. Scores shared with exact knn are identical — the
    re-rank is the same grid cosine."""
    from collections import defaultdict

    from mapreduce_go_spark.operators import similarity

    knn, comp, plain = defaultdict(set), defaultdict(set), defaultdict(set)
    cos_knn, cos_comp = {}, {}
    for r in similarity.knn_cosine_topk(spark, sf_dir).collect():
        knn[r.q_id].add(r.c_id)
        cos_knn[(r.q_id, r.c_id)] = r.cos
    for r in similarity.ann_ivf_pq_topk(spark, sf_dir).collect():
        comp[r.q_id].add(r.c_id)
        cos_comp[(r.q_id, r.c_id)] = r.cos
    for r in similarity.ann_pq_topk(spark, sf_dir).collect():
        plain[r.q_id].add(r.c_id)
    n = len(knn)
    r_comp = sum(len(comp[q] & knn[q]) / len(knn[q]) for q in knn) / n
    r_plain = sum(len(plain[q] & knn[q]) / len(knn[q]) for q in knn) / n
    assert r_comp >= 0.5, r_comp
    assert r_comp >= r_plain - 1e-9, (r_comp, r_plain)
    for key in set(cos_comp) & set(cos_knn):
        assert cos_comp[key] == cos_knn[key], key


def test_hybrid_rrf_fuses_both_systems(spark, sf_dir):
    """RRF sanity: the fused top-10 must actually draw on both
    systems — some fused hits come from the dense top-10 and some do
    not (lexically promoted), for the query set as a whole. Measured
    at sf0.01: 37/80 fused hits are dense-top-10 members. Also pins
    rank shape: exactly RRF_TOP rows per query, ranks 1..RRF_TOP."""
    from collections import defaultdict

    from mapreduce_go_spark.operators import similarity

    rows = similarity.hybrid_rrf_topk(spark, sf_dir).collect()
    dense = defaultdict(set)
    for r in similarity.knn_cosine_topk(spark, sf_dir).collect():
        dense[r.q_id].add(r.c_id)
    per_q = defaultdict(list)
    for r in rows:
        per_q[r.q_id].append(r.rrf_rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, similarity.RRF_TOP + 1)), q
    in_dense = sum(1 for r in rows if r.c_id in dense[r.q_id])
    assert 0 < in_dense < len(rows), in_dense


def test_null_embedding_vector_excluded_symmetrically(spark, sf_dir):
    """ADVICE r15: a NULL embedding null-propagates to NULL codes and
    NULL adist, and Spark's (adist, c_id) shortlist window sorts
    NULLS FIRST — without a guard, NULL-code rows crowd the PQ_RERANK
    shortlist (and crash ann_pq_topk's vstack), while the DuckDB
    oracle's pcodes/ranked (ORDER BY d with NULL d last) hand them
    arbitrary codes and cells instead. Both sides now EXCLUDE
    null-embedding vectors: Spark via codes IS NOT NULL, the oracle
    via d IS NOT NULL in _ivf_rank_ctes.ranked and _pq_code_ctes.pqd.
    Pinned end-to-end on the Spark PQ path and at the CTE level on
    the oracle blocks, over a crafted table with one NULL row."""
    import duckdb
    import numpy as np

    from mapreduce_go_spark import tables
    from mapreduce_go_spark.operators import similarity
    from mapreduce_go_spark.operators.similarity import (
        _NORMS_SQL, _ivf_rank_ctes, _pq_code_ctes, _pq_codebooks)

    NULL_ID = 999998
    orig = tables.load
    try:
        def with_null(s, d, name):
            df = orig(s, d, name)
            if name != "embeddings":
                return df
            nullrow = s.createDataFrame(
                [(NULL_ID, None, 0)],
                "vec_id long, embedding array<float>, label int")
            return df.unionByName(nullrow)
        tables.load = with_null
        # end-to-end: the guard keeps the NULL row out of the ADC
        # scan (pre-guard this CRASHED in adc_scores' np.vstack)
        rows = similarity.ann_pq_topk(spark, sf_dir).collect()
        assert len(rows) > 0
        assert all(r.c_id != NULL_ID for r in rows)
    finally:
        tables.load = orig

    # oracle blocks: the NULL vec must appear in neither ranked
    # (cell assignment/probes) nor pcodes (PQ codes)
    con = duckdb.connect()
    emb_pq = f"{sf_dir}/embeddings.parquet"
    con.execute(f"""
        CREATE VIEW embeddings AS
        SELECT * FROM '{emb_pq}'
        UNION ALL
        SELECT {NULL_ID} AS vec_id, NULL AS embedding, 0 AS label
    """)
    C = np.asarray([[0.1] * 64, [-0.1] * 64])  # toy centroids: the
    # exclusion is structural (NULL d), independent of training
    CB = _pq_codebooks(sf_dir)
    n_ranked, n_pcodes = con.execute(
        _NORMS_SQL + "," + _ivf_rank_ctes(C) + _pq_code_ctes(CB) + f"""
        SELECT (SELECT count(*) FROM ranked WHERE vec_id = {NULL_ID}),
               (SELECT count(*) FROM pcodes WHERE vec_id = {NULL_ID})
    """).fetchone()
    assert (n_ranked, n_pcodes) == (0, 0)
    # ...while a real vector is present in both
    some_id = con.execute(
        f"SELECT min(vec_id) FROM '{emb_pq}'").fetchone()[0]
    n_r2, n_p2 = con.execute(
        _NORMS_SQL + "," + _ivf_rank_ctes(C) + _pq_code_ctes(CB) + f"""
        SELECT (SELECT count(*) FROM ranked WHERE vec_id = {some_id}),
               (SELECT count(*) FROM pcodes WHERE vec_id = {some_id})
    """).fetchone()
    assert n_r2 == 2 and n_p2 == CB.shape[0]
    con.close()


def test_query_vec_rows_match_spark_collect(spark, sf_dir):
    """r16: the PQ variants' ADC tables are built from a Spark-free
    pyarrow read of the N_QUERIES query rows (_query_vec_rows)
    instead of a per-construction Spark collect job. The replacement
    must be VALUE-IDENTICAL to the collect it replaced — same rows,
    same vec_id order, and bitwise-equal embedding doubles (pyarrow
    and Spark both widen the parquet float32 the same way) — and the
    content-key cache must serve the same object within a process
    while a changed key misses."""
    from pyspark.sql import functions as F

    from mapreduce_go_spark import tables
    from mapreduce_go_spark.operators.similarity import (
        N_QUERIES, _query_vec_rows, _query_vec_rows_cached)

    got = _query_vec_rows(sf_dir)
    ref = (
        tables.load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding").orderBy("vec_id")
        .collect()
    )
    assert [qid for qid, _ in got] == [r.vec_id for r in ref]
    for (_, e_got), r in zip(got, ref):
        assert list(e_got) == list(r.embedding)  # exact ==, no eps

    # same content key -> same cached object; different key -> miss
    assert _query_vec_rows(sf_dir) is got
    fresh = _query_vec_rows_cached(sf_dir, "other-content-key")
    assert fresh is not got and fresh == got


def test_dashboard_rows_match_standalone_variants(spark, sf_dir):
    """r17: the dashboard no longer executes the standalone variant
    plans — every variant's exact-cosine re-rank is re-derived from
    one shared scored-base relation. This differential pins the
    claim that the derivation is value-identical: each dashboard row
    must equal the row recomputed in PYTHON from the standalone
    variant's own (separately oracle-checked) top-k output and the
    anchor pairs."""
    from mapreduce_go_spark.operators import similarity as S

    anchor = set(map(tuple, S.knn_cosine_topk(spark, sf_dir)
                     .select("q_id", "c_id").collect()))
    dash = {r.variant: r for r in
            S.ann_recall_dashboard(spark, sf_dir).collect()}
    assert set(dash) == set(S.ANN_RECALL_VARIANTS)
    for name in S.ANN_RECALL_VARIANTS:
        got = dash[name]
        rows = set(map(tuple, S.QUERIES[name](spark, sf_dir)
                       .select("q_id", "c_id").collect()))
        n_hits = len(rows & anchor)
        assert got.n_returned == len(rows), (name, got)
        assert got.n_hits == n_hits, (name, got)
        assert got.n_anchor == len(anchor), (name, got)
        expected_recall = round(n_hits / len(anchor), 6)
        assert abs(got.recall - expected_recall) < 1e-9, (name, got)
    spark.catalog.clearCache()


def test_dashboard_pair_sets_match_standalone_variants(spark, sf_dir):
    """Equal counts do not imply equal sets: for every generator-table
    entry, the (q_id, c_id) set the dashboard derives from its shared
    scored base must equal the set the standalone query returns."""
    from mapreduce_go_spark.operators import similarity as S

    rows, _anchor, _probes = S._dashboard_frames(spark, sf_dir)
    dash: dict[str, set] = {name: set() for name in S.ANN_RECALL_VARIANTS}
    for r in rows.collect():
        dash[r.variant].add((r.q_id, r.c_id))
    for name in S.ANN_RECALL_VARIANTS:
        want = set(map(tuple, S.QUERIES[name](spark, sf_dir)
                       .select("q_id", "c_id").collect()))
        assert want, name
        assert dash[name] == want, (name, sorted(dash[name] ^ want)[:10])
    spark.catalog.clearCache()
