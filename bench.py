"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints the full result as one JSON line (per-query timings first,
totals LAST), then a second SHORT summary JSON line. The driver
records only the final ~2000 bytes of stdout (BENCH_r1–r9 all landed
with "parsed": null because the one giant line's totals scrolled out
of that tail), so the machine-readable summary — totals, frozen-subset
total, per-family subtotals — must fit entirely inside the tail: the
short last line guarantees it whether the driver parses the last line
or greps the tail.

Each query executes end-to-end into a noop sink (full plan runs, no
driver materialization), timed after a session warm-up so JVM/codegen
startup isn't attributed to the first query. Full suite is min-of-2
(107+ queries — the suite-level JVM contention band exceeds short
queries' absolute times, so the third repeat bought noise, not
signal); dedicated SPARK_GRAFT_BENCH_ONLY runs (the frozen subset and
targeted re-measures) stay min-of-3.

CROSS-ROUND CONTRACT (pinned r11, VERDICT r10 item 6): the FROZEN
subset (FROZEN_QUERIES below — fixed membership, dedicated min-of-3
session, nothing else on the host) is the ONLY number comparable
across rounds. The full-suite total is a TRIPWIRE, not a trend: its
membership grows every round (r9 107 -> r10 115 queries), min-of-2
vs min-of-3 methodology differs, and same-process neighbors perturb
short queries by up to ~50% (SCALE.md host-variance notes) — so a
full-suite delta between rounds measures suite growth + host state,
not regressions. Do not chase it; compare frozen-vs-frozen (history:
r5 27.07 s, r9 29.49/31.66 s, r10 30.88 s — and the r11 reading
recorded in SCALE.md under "frozen subset").

Every run also emits `canary_wall` (added r12, VERDICT r11 item 8): the
min-of-3 wall of a FIXED pure-CPU Spark job (32M xxhash64 partial-sum,
no shuffle, no I/O, constant work every round). Boot-to-boot VM
throughput varies ~2x on this host (the r11 tripwire fired on exactly
that); divide any cross-boot total by the canary ratio before reading
it as a code delta. The frozen subset stays the only code-comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_go_spark import registry  # noqa: E402
from mapreduce_go_spark.session import get_spark  # noqa: E402

# Headline set: the reference-parity workloads plus one representative
# per operator family (agg/join/window/sort/dedup/similarity/text).
HEADLINE = [
    "wc",
    "indexer",
    "pricing_summary",
    "join_inner",
    "local_supplier_volume",
    "join_left_outer",
    "window_rank",
    "topk_per_group",
    "global_sort",
    "top_k",
    "crash_payload",
    "scalar_pack",
    # extension families (present from the round they land)
    "q6_forecast_revenue",
    "q10_returned_items",
    "dedup_exact",
    "dedup_minhash_pairs",
    "knn_cosine_topk",
    "lang_id",
    "quality_score",
    "tumbling_window",
    "sessionize",
    # the scale-shaped production paths the 100 TB design leans on:
    # capped-LSH candidates, candidates-then-verify dedup, bucketed
    # ANN, LSH-blocked embedding near-dup, zero-Exchange bucketed join
    "dedup_minhash_pairs_capped",
    "dedup_verified_pairs",
    "ann_lsh_topk",
    "embedding_neardup_pairs_blocked",
    "join_inner_bucketed",
    # NEW in r5 (totals are not comparable to r4 without subtracting
    # these five): the min-per-bucket flag probe, simhash banding, and
    # the pixel-real media pipelines (PNG/GIF decode + resample)
    "neardup_flags",
    "simhash_neardup_pairs_capped",
    "media_features",
    "png_resize",
    "gif_resize",
    # NEW in r5 (second batch): the corpus-quality layer — in-row
    # repetition lambdas, broadcast-probe decontamination, BM25's
    # token shuffle + broadcast df
    "repetition_stats",
    "decontaminate",
    "bm25_top_terms",
    # the capstone composition: clean + repetition + decontaminate +
    # mixture + redact in one Catalyst plan
    "pretrain_corpus",
    # baseline-JPEG codec exercise (encode + decode per document)
    "jpeg_pixel_roundtrip",
    # PQ-compressed ANN (codebook train + encode + ADC + re-rank)
    "ann_pq_topk",
    # NEW in r6: the capped production near-dup default, the BMP
    # pixel resample completing the media family, and the r6 driver
    # window's quality/similarity additions
    "neardup_flags_capped",
    "bmp_resize",
    "semantic_dedup_keep",
    "bm25_search",
    "cms_token_counts",
    "feature_hash_embed",
    "cdc_dedup_ratio",
    # ExactSubstr-style span removal (r6): the full pipeline — window
    # hashes -> global counts -> cover window -> reassembly
    "strip_dup_spans",
    # audio + video modalities (r6): WAV chunk-walk + PCM features;
    # AVI container walk + selective baseline-JPEG frame decode
    "audio_features",
    "mjpeg_frame_sample",
    # real BPE (r6): bounded-vocab train + broadcast ranked-merge
    # encode per distinct word
    "bpe_subword_tokens",
    # retrieval capstone (r6): CDC chunk -> hashing-trick embed ->
    # salted two-phase cosine top-k
    "chunk_retrieval_topk",
    # iterative graph (r6): fixed-point PageRank, 5 exact iterations
    "pagerank_fixed",
    # WARC ingestion (r6): multi-record stream assembly + strict
    # Content-Length walk + HTTP payload extraction
    "warc_extract",
    # NEW in r7 (totals are not comparable to r6 without subtracting
    # this block): the TPC-H window backlog joining the driver window
    # this round (q6/q10 were already headline), the r6-queued
    # rotation names, and the bucketed Q5 twin reading the shared
    # co-located fact layouts
    "q4_order_priority",
    "q7_volume_shipping",
    "q9_product_type_profit",
    "q11_important_stock",
    "q12_shipmode_priority",
    "q13_order_count_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_part_supplier_counts",
    "q17_small_quantity",
    "q18_large_orders",
    "q19_discounted_revenue",
    "q20_top_suppliers",
    "q21_waiting_orders",
    "q22_global_sales_opportunity",
    "ann_ivf_topk",
    "audio_resample",
    "jpeg_resize",
    "dup_span_stats",
    "pii_stats",
    "cdc_dup_chunks",
    "local_supplier_volume_bucketed",
    # perceptual near-dup for the non-text modalities (r7): PNG
    # round-trip -> integer aHash, and WAV round-trip -> window-energy
    # delta fingerprint — both through banded capped buckets + exact
    # hamming verify
    "image_phash_pairs",
    "audio_fingerprint_pairs",
    "video_phash_pairs",
    # from-scratch mergeable sketches (r7): register-exact HLL
    # cardinality and fixed-grid histogram quantiles — the
    # oracle-checkable twins of approx_distinct / approx_quantile
    "hll_distinct_tokens",
    "hist_quantiles",
    # NEW in r8: SymSpell edit-distance-1 vocabulary pairing
    # (symmetric-deletion blocking + capped keys + exact verify) and
    # the bucketed q18/q21 twins on the shared co-located layouts
    "symspell_typo_pairs",
    "typo_corrections",
    "q18_large_orders_bucketed",
    "q21_waiting_orders_bucketed",
    # NEW late-r8: corpus-hygiene family (Bloom membership sketch,
    # CCNet boilerplate strip, normal-equations probe, URL dedup)
    "bloom_decontaminate",
    "strip_boilerplate_lines",
    "quality_probe",
    "url_dedup",
    "unigram_logprob_filter",
    "triangle_counts",
    "hll_distinct_by_source",
    "window_navigation",
    "cms_heavy_hitters",
    "weighted_sample_per_source",
    "variant_extract",
    "warc_source_extract",
    "arrow_text_stats",
    "warc_sink_roundtrip",
    "partition_pruned_daily",
    "dpp_enriched_revenue",
    "zscore_arrow",
    "scd2_user_dim",
    "merge_upsert_customers",
    "jsonl_roundtrip",
    "contrastive_pairs",
    # NEW in r9: AQE skew-join fixture, pandas grouped-agg UDAF, ORC
    # round-trip, observable-metrics filter, recursive CTE
    "skew_join_stats",
    "grouped_agg_mad",
    "orc_roundtrip",
    "observed_pipeline_filter",
    "recursive_ancestor_depth",
    "csv_roundtrip",
    # NEW in r10: stream-stream join batch anchors (inner + outer),
    # multi-probe IVF + LSH, RAG chunker, temperature domain mixing
    "purchase_click_attribution",
    "ann_ivf_nprobe_topk",
    "token_chunks_overlap",
    "domain_mix_temperature",
    "purchase_click_attribution_outer",
    "ann_lsh_multiprobe_topk",
    # NEW in r11: trained-coarse-quantizer IVF and the
    # transformWithState batch anchor
    "ann_ivf_trained_topk",
    "user_type_profile",
    # NEW in r12: sampled-training IVF (the 100 TB codebook path),
    # binary-quantization Hamming ANN, matryoshka two-stage retrieval
    "ann_ivf_sampled_topk",
    "ann_binary_hamming_topk",
    "matryoshka_two_stage_topk",
    # NEW in r12: DSIR hashed-ngram importance selection and the
    # transformWithState ListState / event-time-timer batch anchors
    "dsir_importance_sample",
    "user_recent_events",
    "idle_user_flush",
    # NEW in r12: reciprocal-rank-fusion hybrid retrieval and the
    # Arrow-optimized UDTF twin
    "hybrid_rrf_topk",
    "sentence_split_udtf_arrow",
    # NEW in r12: exact prefix-filtered set-similarity join
    "ngram_jaccard_pairs_prefix",
    # NEW in r13: the ANN recall dashboard (runs every variant plus
    # the brute-force anchor in one plan — priced accordingly) and
    # the ANN-densed hybrid (the swap-in the RRF docstring promises)
    "ann_recall_dashboard",
    "hybrid_rrf_ann_topk",
    # NEW in r14: binary-Hamming composed with the trained-IVF cell
    # layout — the cell-pruned coarse scan that retires the registry's
    # last full-table dense scan (also now hybrid_rrf_ann_topk's pool)
    "ann_ivf_hamming_topk",
    # NEW in r15: the FAISS-standard IVF-PQ composition — ADC scoring
    # only inside the probed cells of the same layout table, retiring
    # ann_pq_topk's full (32x-compressed) code scan
    "ann_ivf_pq_topk",
]

# FROZEN cross-round comparable subset: the exact 37-query set
# BENCH_r05.json measured (SCALE.md "bench drift" discipline — the
# headline total grows with the suite, so round-over-round comparison
# needs a fixed basis; this list NEVER changes). Emitted per run as
# r5_subset_total alongside the full-set total.
FROZEN_R5 = [
    "wc", "indexer", "pricing_summary", "join_inner",
    "local_supplier_volume", "join_left_outer", "window_rank",
    "topk_per_group", "global_sort", "top_k", "crash_payload",
    "scalar_pack", "q6_forecast_revenue", "q10_returned_items",
    "dedup_exact", "dedup_minhash_pairs", "knn_cosine_topk",
    "lang_id", "quality_score", "tumbling_window", "sessionize",
    "dedup_minhash_pairs_capped", "dedup_verified_pairs",
    "ann_lsh_topk", "embedding_neardup_pairs_blocked",
    "join_inner_bucketed", "neardup_flags",
    "simhash_neardup_pairs_capped", "media_features", "png_resize",
    "gif_resize", "repetition_stats", "decontaminate",
    "bm25_top_terms", "pretrain_corpus", "jpeg_pixel_roundtrip",
    "ann_pq_topk",
]


# Per-family subtotals for the summary line: first matching prefix
# wins; order = specificity. Keeps the tail-visible summary a
# regression tripwire per FAMILY even when per-query noise (±1 s JVM
# contention on a 107-query suite) swamps individual short queries.
FAMILIES: list[tuple[str, tuple[str, ...]]] = [
    ("tpch", ("q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9",
              "pricing_summary", "local_supplier_volume")),
    # stream before dedup: "dedup_first_" must win over "dedup_"
    ("stream", ("sessionize", "tumbling_", "sliding_", "window_",
                "dedup_first_", "purchase_")),
    ("dedup", ("dedup_", "simhash", "neardup_", "cdc_", "dup_span",
               "strip_dup", "minhash", "winnow_", "url_dedup",
               "semantic_dedup")),
    ("ann", ("ann_", "knn_", "embedding_", "chunk_retrieval",
             "feature_hash", "kmeans")),
    ("media", ("png_", "gif_", "bmp_", "jpeg_", "media_", "audio_",
               "video_", "mjpeg_", "image_", "phash_", "multimodal",
               "warc_")),
    ("text", ("lang_id", "quality_", "repetition_", "decontaminate",
              "bm25", "bpe_", "unigram_", "boilerplate_",
              "strip_boilerplate", "pii_", "symspell_", "typo_",
              "wc", "indexer", "arrow_text", "token_", "domain_")),
    ("sketch", ("hll_", "cms_", "hist_", "bloom_", "approx_")),
    ("graph", ("pagerank", "triangle_", "graph_")),
    ("io", ("jsonl_", "orc_", "csv_", "scd2_", "merge_",
            "partition_", "dpp_")),
]


# Recorded idle-boot canary reference (VERDICT r13 item 5): the
# project's idle-host readings cluster at 0.111-0.113 s (r12 official,
# r13 frozen-subset session, BENCH_r13's driver run); the two known
# degraded-host readings were 0.164 and 0.333 s. The threshold sits
# between the clusters: a run whose canary exceeds FACTOR x the idle
# reference is flagged `canary_degraded` in BOTH JSON lines so the
# cross-round comparison never needs per-round human normalization.
CANARY_IDLE_REF = 0.111
CANARY_DEGRADED_FACTOR = 1.35


def canary_degraded(canary: float,
                    idle_ref: float = CANARY_IDLE_REF,
                    factor: float = CANARY_DEGRADED_FACTOR) -> bool:
    """True when a measured canary wall says the host is NOT in the
    idle-reference throughput regime, i.e. totals from this run must
    be canary-normalized before any cross-round reading."""
    return canary > idle_ref * factor


def canary_wall(spark) -> float:
    """Min-of-3 wall of a fixed CPU-bound job: 32M xxhash64 values
    partial-summed across 32 tasks — no shuffle, no file I/O, no
    Python workers, identical work every invocation. A pure host-
    throughput thermometer for normalizing cross-boot bench totals."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        # pmod bounds the summand: 32M full-range int64 hashes would
        # overflow the ANSI sum(bigint)
        spark.range(0, 32_000_000, 1, 32).selectExpr(
            "sum(pmod(xxhash64(id), 1000000)) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def family_of(name: str) -> str:
    for fam, prefixes in FAMILIES:
        if any(name.startswith(p) for p in prefixes):
            return fam
    return "other"


def tail_priority_items(timings: dict, names: list) -> list:
    """Per-query entries ordered for tail survival: frozen-subset
    names first (the only cross-round-comparable set), then bench
    order. Deterministic by NAME, not by time, so the driver's
    32-core vs 8-core runs emit the same key set."""
    return [(n, timings[n]) for n in
            ([x for x in FROZEN_R5 if x in timings] +
             [x for x in names if x in timings and x not in FROZEN_R5])]


def per_query_part_lines(items: list, sf_val, budget: int = 700) -> list:
    """The full per-query dict as byte-bounded self-contained JSON
    lines: a capture wider than the driver's 2000-byte tail (or a
    human) recovers every query as parseable JSON instead of one
    truncated giant line."""
    lines: list = []
    part: dict = {}

    def flush() -> None:
        if part:
            lines.append(json.dumps(
                {"metric": "per_query_part", "part": len(lines) + 1,
                 "sf": sf_val, "queries": part},
                separators=(",", ":")))

    for n, t in items:
        part[n] = t
        if len(json.dumps(part, separators=(",", ":"))) > budget:
            flush()
            part = {}
    flush()
    return lines


def fill_summary_queries(summary: dict, items: list, sf_val,
                         budget: int = 1900) -> dict:
    """Add a "queries" dict to the final summary with as many entries
    as fit inside the driver's 2000-byte stdout tail (1900 leaves
    margin), so the driver's per-query/scaling comparison stops
    arriving empty (VERDICT r16 item 2). Entries are taken in
    tail_priority_items order — all frozen queries fit first; an entry
    that would overflow the budget is skipped, not the end of the
    fill, so shorter entries after it still get in."""
    summary = dict(summary)
    summary["queries"] = {}
    summary["n_queries_in_tail"] = 0
    summary["sf"] = sf_val
    for n, t in items:
        summary["queries"][n] = t
        # measured with the count it would print: 9 -> 10 adds a byte
        summary["n_queries_in_tail"] = len(summary["queries"])
        if len(json.dumps(summary)) > budget:
            del summary["queries"][n]
    summary["n_queries_in_tail"] = len(summary["queries"])
    return summary


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="mapreduce_go_spark-bench")

    queries = registry.all_queries()
    names = [n for n in HEADLINE if n in queries]
    # SPARK_GRAFT_BENCH_ONLY=frozen: time ONLY the frozen r5 subset in
    # this (dedicated) session — the cross-round comparable number the
    # SCALE.md drift discipline wants, free of suite-growth contention.
    # Any other value is a comma-separated name filter for targeted
    # re-measures — resolved against the FULL registry (not just
    # HEADLINE) name by name, so a mixed list never silently drops the
    # non-headline names (ADVICE r9).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    repeats = 2  # full suite: min-of-2 (VERDICT r9 item 8)
    if only == "frozen":
        names = [n for n in FROZEN_R5 if n in queries]
        repeats = 3  # dedicated cross-round basis keeps min-of-3
        if not names:
            # same empty-names guard as the name-filter branch: a
            # partial registry must emit the error line, not
            # IndexError in the warm-up (r13 review)
            print(json.dumps({
                "metric": "headline_queries_total_wall", "value": 0,
                "unit": "sec", "error": "frozen subset empty",
                "queries": {}, "sf": sf}))
            return
    elif only:
        wanted = [n for n in only.split(",") if n]
        unknown = [n for n in wanted if n not in queries]
        if unknown:
            print(f"# WARNING: unknown bench names skipped: {unknown}",
                  file=sys.stderr)
        names = [n for n in wanted if n in queries]
        if not names:
            # still emit a machine-readable (empty) summary line for
            # the driver tail instead of IndexError-ing in the warm-up
            print(json.dumps({
                "metric": "headline_queries_total_wall", "value": 0,
                "unit": "sec", "error": f"no known names in {wanted}",
                "queries": {}, "sf": sf}))
            return
        repeats = 3  # targeted re-measure: keep the drift methodology

    # Warm-up outside the timed region: run representative plan shapes
    # (scan/agg/join/window/explode) at the smallest scale factor so
    # JIT + whole-stage-codegen compilation isn't billed to the first
    # timed queries, then touch the bench tables' footers.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    for wname in ("wc", "pricing_summary", "join_inner", "window_rank",
                  "dedup_minhash_pairs", "knn_cosine_topk"):
        if wname in queries:
            try:
                queries[wname](spark, warm_dir).write.format(
                    "noop").mode("overwrite").save()
            except Exception:
                pass
    try:
        queries[names[0]](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
    except Exception:
        pass  # the timed loop will report the failure per-query
    canary = canary_wall(spark)  # after warm-up: JIT settled

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        best = float("inf")
        try:
            for _ in range(repeats):  # min-of-N drops JIT/GC noise
                t0 = time.perf_counter()
                df = queries[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
        except Exception as e:  # noqa: BLE001 — one bad query must
            # not discard the whole run's measurements (r13 review:
            # the driver would record a null BENCH line)
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# ERROR timing {name}: {errors[name]}",
                  file=sys.stderr)
        # drop persisted relations between queries: accumulated cache
        # blocks from persist()-using operators (phash_dup_flags) are
        # pure heap/GC pressure for every LATER query's timing — the
        # measured source of the suite-size drift (SCALE.md r8 read)
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    r5_subset = round(
        sum(timings[n] for n in FROZEN_R5 if n in timings), 3)
    fams: dict[str, float] = {}
    for n, t in timings.items():
        fams[family_of(n)] = round(fams.get(family_of(n), 0.0) + t, 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    degraded = canary_degraded(canary)
    # A run with ANY errored query is PARTIAL: its totals shrank by
    # the missing queries and must never be compared as a faster
    # total (ADVICE r13) — both lines carry the explicit flag.
    partial = bool(errors)
    # full line: per-query detail first, totals LAST (tail-safe order)
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "sf": sf_val,
        "queries": timings,
        "families": fams,
        "n_queries": len(timings),
        "repeats": repeats,
        "canary_wall": canary,
        "canary_degraded": degraded,
        "canary_threshold": round(CANARY_IDLE_REF *
                                  CANARY_DEGRADED_FACTOR, 3),
        "r5_subset_total": r5_subset,
        **({"errors": errors, "partial": True} if partial else {}),
        "value": total,
    }))
    # Per-query visibility for the driver (VERDICT r16 item 2,
    # additions-only). The driver records only the final ~2000 BYTES
    # of stdout, so the 130-entry dict (3.4+ KB compact) can never
    # survive that tail whole. Two additions recover what can be
    # recovered, without touching the full line above:
    #   (a) compact per-query PART lines — each a self-contained JSON
    #       object with a byte-bounded chunk of the full dict, so any
    #       capture wider than the tail (or a human reading stdout)
    #       gets every query as parseable JSON instead of one
    #       truncated giant line;
    #   (b) the FINAL summary line now carries a "queries" dict with
    #       as many entries as fit in the tail budget — frozen-subset
    #       names first (the cross-round-comparable set), then
    #       headline order — deterministic, so the driver's 32-core
    #       vs 8-core scaling compare sees the same keys in both runs.
    # Neither line removes or renames anything: the full dict still
    # prints first, totals and methodology fields are unchanged.
    compact_items = tail_priority_items(timings, names)
    for line in per_query_part_lines(compact_items, sf_val):
        print(line)
    # short FINAL summary line — must fit in the driver's 2000-byte
    # stdout tail whole, so BENCH_r{N}.json's `parsed` stops being null
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "r5_subset_total": r5_subset,
        "families": fams,
        "n_queries": len(timings),
        "repeats": repeats,
        "canary_wall": canary,
        "canary_degraded": degraded,
        **({"n_errors": len(errors), "partial": True}
           if partial else {}),
    }
    print(json.dumps(fill_summary_queries(summary, compact_items,
                                          sf_val)))


if __name__ == "__main__":
    main()
