"""tools/ab_pairs.py's summary: medians, quartile spreads, pair wins and
flags computed from perfbench result lines (no Spark, no subprocess)."""

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(__file__), os.pardir, "tools", "ab_pairs.py")
_spec = importlib.util.spec_from_file_location("ab_pairs", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

METRICS = [
    {"name": "round_norm_s", "unit": "s", "better": "lower"},
    {"name": "hits", "unit": "count", "better": "higher"},
]


def _result(round_s, hits=None, correct=True, failed=0):
    metrics = {"round_norm_s": {"value": round_s, "unit": "s"}}
    if hits is not None:
        metrics["hits"] = {"value": hits, "unit": "count"}
    return {"correct": correct, "attempted": 9, "failed": failed, "metrics": metrics}


def test_parse_seeds():
    assert ab.parse_seeds("3-6") == [3, 4, 5, 6]
    assert ab.parse_seeds("7") == [7]
    assert ab.parse_seeds("1,4-5,9") == [1, 4, 5, 9]


def test_last_result_reads_the_last_line():
    out = '{"env": {}}\n{"correct": true, "failed": 0}\n\n'
    assert ab.last_result(out) == {"correct": True, "failed": 0}
    assert ab.last_result("") is None
    assert ab.last_result("Traceback ...\nValueError: x") is None


def test_summarize_medians_iqr_and_wins():
    pairs = [
        {"parent": _result(1.0, 5), "change": _result(0.8, 6)},
        {"parent": _result(1.2, 5), "change": _result(0.9, 4)},
        {"parent": _result(1.1, 5), "change": _result(1.3, 7)},
        {"parent": _result(1.4, 5), "change": _result(0.7, 5)},
        # a pair with a side that printed nothing counts for neither
        {"parent": None, "change": _result(0.1, 9)},
    ]
    rows = {r["metric"]: r for r in ab.summarize(pairs, METRICS)}
    r = rows["round_norm_s"]
    assert r["pairs"] == 4
    assert r["parent_median"] == pytest.approx(1.15)
    assert r["change_median"] == pytest.approx(0.85)
    # inclusive quartiles of [1.0, 1.1, 1.2, 1.4]: 1.075 and 1.25
    assert r["parent_iqr"] == pytest.approx(0.175)
    assert r["won"] == 3  # lower is better; pair 3 went the other way
    h = rows["hits"]
    assert h["pairs"] == 4 and h["won"] == 2  # higher is better, a tie is no win
    table = ab.format_table(ab.summarize(pairs, METRICS))
    assert "| `round_norm_s` (s) | 1.15 (0.175) | 0.85 (0.225) | 3/4 |" in table


def test_summarize_tolerates_a_missing_metric():
    pairs = [{"parent": _result(1.0), "change": _result(0.5)}]
    rows = {r["metric"]: r for r in ab.summarize(pairs, METRICS)}
    assert rows["hits"]["pairs"] == 0 and rows["hits"]["parent_median"] is None
    assert rows["round_norm_s"]["parent_iqr"] == 0.0
    assert "n/a" in ab.format_table(ab.summarize(pairs, METRICS))


def test_flagged_runs():
    runs = [
        ("parent", 1, _result(1.0)),
        ("change", 1, _result(1.0, correct=False)),
        ("parent", 2, _result(1.0, failed=2)),
        ("change", 2, None),
    ]
    flags = ab.flagged(runs)
    assert len(flags) == 3
    assert flags[0].startswith("change seed 1: correct=False")
    assert "failed=2 of 9" in flags[1]
    assert flags[2] == "change seed 2: no result line"
