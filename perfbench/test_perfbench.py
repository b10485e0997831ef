"""Tests of the benchmark's own arithmetic and contracts (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import inputs, run, spans, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _span(name, start, end, parent=None):
    return spans.Span(name, start, end, parent, "t")


def test_self_time_subtracts_the_union_of_children():
    s = [
        _span("pass", 0.0, 10.0),
        _span("a", 1.0, 3.0, 0),
        _span("b", 2.0, 5.0, 0),      # overlaps a: [1, 5] counted once
        _span("c", 8.0, 12.0, 0),     # runs past its parent: [8, 10] only
        _span("a.inner", 1.5, 2.5, 1),
    ]
    assert spans.self_times(s) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])
    assert spans.self_time_by_name(s)["a"] == pytest.approx(1.0)


def test_tracer_nests_spans_and_a_disabled_tracer_records_nothing():
    t = spans.Tracer(True)
    t.trace_id = "pass0"
    with t.span("pass"):
        with t.span("operators.construct", query="q"):
            pass
    assert [(s.name, s.parent, s.trace_id) for s in t.spans] == [
        ("pass", None, "pass0"), ("operators.construct", 0, "pass0")]
    assert t.to_json()[1]["query"] == "q"
    off = spans.Tracer(False)
    with off.span("pass"):
        pass
    assert off.spans == []


def test_names_units_and_whys_follow_the_grammar(bench):
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics + bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names), names
    assert all(UNIT.fullmatch(m["unit"]) for m in metrics)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in bench["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_every_benchmark_metric_is_printed_with_its_unit(bench):
    for mode, units in (("end_to_end", run.END_TO_END),
                        ("per_layer", run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in bench[mode]} == units
        line = run.summary_line({n: 1.5 for n in units}, units, 3, 0)
        got = run.parse_summary("noise\n" + line)["metrics"]
        assert {n: v["unit"] for n, v in got.items()} == units


def test_benchmark_workloads_exist(bench):
    for w in bench["workloads"]:
        assert w["name"] in workloads.WORKLOADS


def test_parse_summary_reads_the_last_line_and_rejects_other_keys():
    line = run.summary_line({"pass_s": 2.25}, {"pass_s": "s"}, 4, 1)
    out = run.parse_summary("metric pass_s 2.25 s n=3\n" + line + "\n")
    assert out == {"correct": False, "attempted": 4, "failed": 1,
                   "metrics": {"pass_s": {"value": 2.25, "unit": "s"}}}
    with pytest.raises(ValueError):
        run.parse_summary('{"correct": true, "metrics": {}}')


def test_quartiles_match_the_statistics_module():
    assert run.quartiles([3.0]) == (3.0, 3.0, 3.0)
    assert run.quartiles([1.0, 2.0, 3.0, 4.0]) == (1.25, 2.5, 3.75)


def _read_all(d):
    return {f: open(os.path.join(d, f), "rb").read()
            for f in sorted(os.listdir(d))}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for sub in ("a", "b"):
        d = str(tmp_path / sub)
        inputs.write_corpus(ROOT, d, n_docs=60, seed=5, file_per_doc=True)
        inputs.write_star(d, sf=0.0005, seed=5)
    assert _read_all(tmp_path / "a") == _read_all(tmp_path / "b")
    other = str(tmp_path / "c")
    inputs.write_corpus(ROOT, other, n_docs=60, seed=6, file_per_doc=True)
    assert (_read_all(other)["documents.parquet"]
            != _read_all(tmp_path / "a")["documents.parquet"])


def test_inputs_describe_and_file_per_doc(tmp_path):
    d = str(tmp_path)
    inputs.write_corpus(ROOT, d, n_docs=40, seed=1, file_per_doc=True)
    inputs.write_star(d, sf=0.0005, seed=1)
    desc = inputs.describe(d)
    assert set(desc) == set(inputs.STAR_TABLES) | set(inputs.CORPUS_TABLES)
    assert desc["documents"]["rows"] == 40
    assert desc["lineitem"]["rows"] == 3000
    import pyarrow.parquet as pq

    sources = pq.read_table(os.path.join(d, "documents.parquet"),
                            columns=["source"]).column(0).to_pylist()
    assert len(set(sources)) == 40


def test_sweep_seed_ranges_and_spread_table():
    from perfbench import sweep

    assert sweep.seeds("1-3,7") == [1, 2, 3, 7]
    runs = [{"metrics": {"pass_s": {"value": v, "unit": "s"}}}
            for v in (1.0, 2.0, 3.0, 4.0)]
    ((name, q2, q1, q3, spread),) = sweep.spread_table(runs)
    assert (name, q1, q2, q3) == ("pass_s", 1.25, 2.5, 3.75)
    assert spread == pytest.approx(1.0)


def test_task_slots_leave_half_the_cores(tmp_path):
    cores = len(os.sched_getaffinity(0))
    assert run.task_slots() == max(1, cores // 2)
    env = run.isolated_env(str(tmp_path))
    assert env["SPARK_GRAFT_CPUS"] == str(run.task_slots())
