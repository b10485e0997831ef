"""The gain rule of tools/ab_pairs.py on canned paired results: no
Spark session, no benchmark run."""

import json

import pytest

from tools import ab_pairs

PARENT = [5.4, 5.5, 5.3, 5.6, 5.5, 5.4, 5.7, 5.5, 5.6, 5.4]


def test_gain_holds_when_nine_of_ten_won_beyond_parent_iqr():
    change = [3.4, 3.5, 3.3, 3.6, 3.5, 3.4, 3.7, 3.5, 3.6, 5.8]
    v = ab_pairs.verdict(PARENT, change)
    assert v["wins"] == 9 and v["pairs"] == 10
    assert v["parent"][1] == pytest.approx(5.5)
    assert v["parent_iqr"] == pytest.approx(5.6 - 5.4)
    assert v["worse_by"] == pytest.approx((3.5 - 5.5) / 5.5)
    assert v["gain"]


def test_no_gain_with_eight_wins_or_ties():
    change = [3.4, 3.5, 3.3, 3.6, 3.5, 3.4, 3.7, 3.5, 5.6, 5.8]
    v = ab_pairs.verdict(PARENT, change)
    assert v["wins"] == 8  # the tie at 5.6 counts for neither side
    assert not v["gain"]


def test_no_gain_when_median_shift_within_parent_iqr():
    change = [p - 0.05 for p in PARENT]
    v = ab_pairs.verdict(PARENT, change)
    assert v["wins"] == 10
    assert not v["gain"]


def test_higher_is_better_flips_the_direction():
    v = ab_pairs.verdict([1.0, 1.1, 1.0, 1.2], [2.0, 2.1, 2.0, 2.2],
                         better="higher")
    assert v["wins"] == 4 and v["gain"]
    assert v["worse_by"] < 0


def test_unpaired_runs_are_refused():
    with pytest.raises(ValueError):
        ab_pairs.verdict([1.0, 2.0], [1.0])


def test_position_split_separates_order_from_side():
    """Canned pairs where running second costs the change 3 s: the
    split shows the order, the pooled median would not."""
    parent = [9.0, 9.0, 9.0, 9.0, 9.0]
    change = [7.0, 12.0, 8.0, 11.0, 8.5]
    first = [True, False, True, False, True]
    split = ab_pairs.position_split(parent, change, first)
    assert split["change first"] == (3, pytest.approx(-1.0))
    assert split["change second"] == (2, pytest.approx(2.5))
    assert ab_pairs.position_split([1.0], [2.0], [True])[
        "change second"] == (0, None)


def test_replay_pairs_runs_by_seed(tmp_path):
    def run(side, seed, first, pass_s):
        return json.dumps({"side": side, "seed": seed, "first": first,
                           "failed": 0,
                           "metrics": {"pass_s": {"value": pass_s}}})

    path = tmp_path / "pairs.jsonl"
    path.write_text("\n".join([
        run("change", 2, True, 3.0), run("parent", 2, False, 5.0),
        run("parent", 1, True, 4.0), run("change", 1, False, 6.0),
        run("parent", 3, True, 4.5),  # its change run never finished
    ]) + "\n")
    pairs = ab_pairs.load_pairs(str(path))
    assert [(p["seed"], c["seed"]) for p, c in pairs] == [(1, 1), (2, 2)]
    assert [c["first"] for _, c in pairs] == [False, True]
