"""The driver records only the final ~2000 bytes of bench stdout.

PERF_r16 arrived with an empty per_query map because the 130-entry
dict only ever printed inside one >3.4 KB line whose head the tail
capture cut off (VERDICT r16 item 2). bench.py now emits (a) compact
self-contained per-query part lines and (b) a final summary line
carrying a deterministic, frozen-first queries subset sized to fit
the tail whole. These tests pin the byte budgets and the determinism
with a synthetic full-size timings dict — no Spark session needed.
"""

import json

import bench


def _fake_timings():
    # worst-ish case values (5-6 chars each), every headline query
    return {n: round(0.05 + i * 0.037, 3)
            for i, n in enumerate(bench.HEADLINE)}


def test_summary_line_fits_driver_tail_with_frozen_coverage():
    timings = _fake_timings()
    items = bench.tail_priority_items(timings, list(bench.HEADLINE))
    summary = bench.fill_summary_queries(
        {"metric": "headline_queries_total_wall", "value": 123.456,
         "unit": "sec", "r5_subset_total": 27.322,
         "families": {f: 12.345 for f, _ in bench.FAMILIES},
         "n_queries": len(timings), "repeats": 2,
         "canary_wall": 0.165, "canary_degraded": True},
        items, 0.1)
    line = json.dumps(summary)
    assert len(line) <= 1900, len(line)
    # every frozen query made it into the tail subset
    frozen = [n for n in bench.FROZEN_R5 if n in timings]
    missing = [n for n in frozen if n not in summary["queries"]]
    assert not missing, missing
    assert summary["n_queries_in_tail"] == len(summary["queries"]) > 0
    # the final line stays parseable and keeps the driver contract keys
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, key


def test_part_lines_cover_all_queries_and_stay_small():
    timings = _fake_timings()
    items = bench.tail_priority_items(timings, list(bench.HEADLINE))
    lines = bench.per_query_part_lines(items, 0.1)
    seen = {}
    for line in lines:
        assert len(line) < 900, len(line)  # budget 700 + one entry
        d = json.loads(line)
        assert d["metric"] == "per_query_part"
        seen.update(d["queries"])
    assert seen == timings  # nothing dropped, values intact


def test_tail_subset_is_deterministic_by_name_not_time():
    # same key set even when every timing differs (32- vs 8-core run)
    t1 = _fake_timings()
    t2 = {n: round(v * 3.7, 3) for n, v in t1.items()}
    base = {"metric": "headline_queries_total_wall", "value": 1.0,
            "unit": "sec", "r5_subset_total": 1.0, "families": {},
            "n_queries": len(t1), "repeats": 2, "canary_wall": 0.1,
            "canary_degraded": False}
    s1 = bench.fill_summary_queries(
        base, bench.tail_priority_items(t1, list(bench.HEADLINE)), 0.1)
    s2 = bench.fill_summary_queries(
        base, bench.tail_priority_items(t2, list(bench.HEADLINE)), 0.1)
    common = set(s1["queries"]) & set(s2["queries"])
    # the overlap is nearly total: byte-length differences may trim
    # at most a couple of entries at the boundary
    assert len(common) >= min(len(s1["queries"]),
                              len(s2["queries"])) - 3


def test_overflowing_entry_does_not_block_later_short_entries():
    base = {"metric": "headline_queries_total_wall", "value": 1.0,
            "unit": "sec"}
    long_name, filler = "q" * 120, "f" * 40
    items = [(filler, 1.0), (long_name, 2.0), ("a", 3.0), ("b", 4.0)]
    budget = len(json.dumps(bench.fill_summary_queries(
        base, [(filler, 1.0), ("a", 3.0), ("b", 4.0)], 0.1)))
    s = bench.fill_summary_queries(base, items, 0.1, budget=budget)
    assert list(s["queries"]) == [filler, "a", "b"]
    assert s["n_queries_in_tail"] == 3
    assert len(json.dumps(s)) <= budget


def test_budget_holds_with_the_printed_count():
    base = {"metric": "headline_queries_total_wall", "value": 1.0}
    items = [(f"q{i}", 1.0) for i in range(10)]
    full = bench.fill_summary_queries(base, items, 0.1, budget=10_000)
    assert full["n_queries_in_tail"] == 10
    budget = len(json.dumps(full)) - 1
    s = bench.fill_summary_queries(base, items, 0.1, budget=budget)
    assert len(json.dumps(s)) <= budget
    assert s["n_queries_in_tail"] == len(s["queries"]) == 9
