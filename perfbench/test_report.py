"""Tests of the benchmark's own accounting and printed lines.

    python3 -m pytest perfbench/test_report.py -q
"""

from __future__ import annotations

import json

import pytest

import layers
import report

STAT_A = "cpu  100 0 50 800 10 0 0 40 0 0\ncpu0 1 2 3 4 5 6 7 8\n"
STAT_B = "cpu  200 0 100 1600 20 0 0 80 0 0\ncpu0 1 2 3 4 5 6 7 8\n"
STAT_C = "cpu  300 0 150 2400 30 0 0 80 0 0\n"


def _values(units, v=1.5):
    return {name: v for name in units}


def test_digest_mismatch_counts_as_failure():
    t = report.Tally()
    assert t.check("leaf_a", "abc", "abc")
    assert not t.check("leaf_b", "abc", "xyz")
    assert t.attempted == 2 and t.failed == 1
    assert t.fail_frac == 0.5
    assert t.failures[0]["op"] == "leaf_b"
    assert "digest mismatch" in t.failures[0]["error"]
    line = json.loads(report.result_line(t, {"wall_s": 2.0}, {"wall_s": "s"}))
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (2, 1)


def test_exception_counts_as_failure():
    t = report.Tally()
    t.record("crawl", "RuntimeError: boom")
    assert (t.attempted, t.failed, t.fail_frac) == (1, 1, 1.0)


def test_each_run_keeps_its_own_steal_reading():
    a, b, c = (report.cpu_times(s) for s in (STAT_A, STAT_B, STAT_C))
    first = report.steal_frac(a, b)
    second = report.steal_frac(b, c)
    assert first == pytest.approx(40 / 1000)
    assert second == pytest.approx(0.0)
    recs = [json.loads(report.run_record("crawl", seed, False, report.Tally(),
                                         steal, {}).split(" ", 1)[1])
            for seed, steal in ((1, first), (2, second))]
    assert [r["steal_frac"] for r in recs] == [0.04, 0.0]
    assert [r["seed"] for r in recs] == [1, 2]


def test_every_metric_is_printed_with_its_unit():
    for kind in ("end_to_end", "per_layer"):
        units = report.metric_units(kind)
        line = json.loads(report.result_line(report.Tally(), _values(units), units))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(units)
        for name, m in line["metrics"].items():
            assert m == {"value": 1.5, "unit": units[name]}


def test_missing_or_unknown_metric_is_refused():
    units = {"wall_s": "s", "setup_s": "s"}
    with pytest.raises(ValueError):
        report.result_line(report.Tally(), {"wall_s": 1.0}, units)
    with pytest.raises(ValueError):
        report.result_line(report.Tally(), {"wall_s": 1.0, "setup_s": 1.0,
                                            "other": 2.0}, units)
    with pytest.raises(ValueError):
        report.result_line(report.Tally(), {"wall_s": float("nan"),
                                            "setup_s": 1.0}, units)


def test_history_median_reads_only_the_workload_asked(tmp_path):
    path = str(tmp_path / "state" / "history.jsonl")
    assert report.history_median(path, "crawl", "wall_s") == 0.0
    for seed, wall in ((1, 10.0), (2, 30.0), (3, 20.0)):
        report.append_history(path, "crawl", seed, {"wall_s": wall})
    report.append_history(path, "suite", 1, {"wall_s": 99.0})
    assert report.history_median(path, "crawl", "wall_s") == 20.0
    assert report.history_median(path, "suite", "wall_s") == 99.0


def test_spec_lists_the_per_layer_metrics_the_run_computes():
    assert report.metric_units("per_layer") == dict(layers.per_layer())
