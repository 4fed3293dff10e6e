"""Unit tests of the benchmark's own helpers.

Run: ``python3 -m pytest perfbench/test_benchlib.py -q``
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from benchlib import (  # noqa: E402
    InsufficientSamples,
    Tracer,
    attribute_lag,
    backlog_max,
    covered_files,
    percentile,
    self_time_by_name,
    self_times,
)


# -- percentile ---------------------------------------------------------------

def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(list(reversed(xs)), 90) == 90  # order-free


def test_percentile_needs_ten_beyond():
    assert percentile(range(20), 50) == 9  # exactly 10 beyond
    with pytest.raises(InsufficientSamples):
        percentile(range(19), 50)
    assert percentile(range(100), 90) == 89
    with pytest.raises(InsufficientSamples):
        percentile(range(99), 90)
    with pytest.raises(InsufficientSamples):
        percentile(range(999), 99)
    assert percentile(range(1000), 99) == 989


def test_percentile_rule_can_be_relaxed_but_not_on_empty():
    assert percentile([3.0], 50, min_beyond=0) == 3.0
    with pytest.raises(InsufficientSamples):
        percentile([], 50, min_beyond=0)


# -- lag attribution ----------------------------------------------------------

LOG = [(11, 2), (12, 1), (13, 1), (14, 1)]  # 11 = warm-up snapshot, 2 files


def test_covered_files():
    assert covered_files(LOG, {"snap": 0, "pos": 0}) == 0
    assert covered_files(LOG, {"snap": 11, "pos": 1}) == 1
    assert covered_files(LOG, {"snap": 11, "pos": 2}) == 2
    assert covered_files(LOG, {"snap": 13, "pos": 1, "seq": 3}) == 4
    with pytest.raises(ValueError):
        covered_files(LOG, {"snap": 99, "pos": 1})


def test_attribute_lag_first_covering_batch():
    due = {12: 10.0, 13: 11.0, 14: 12.0}
    batches = [
        ({"snap": 11, "pos": 2}, 9.0),    # warm-up only
        ({"snap": 13, "pos": 1}, 12.5),   # covers 12 and 13
        ({"snap": 13, "pos": 1}, 13.0),   # no-data batch: same end offset
        ({"snap": 14, "pos": 1}, 14.0),
    ]
    lag = attribute_lag(LOG, due, batches)
    assert lag == {12: 2.5, 13: 1.5, 14: 2.0}


def test_attribute_lag_partial_snapshot_is_not_covered():
    log = [(21, 3)]
    lag = attribute_lag(log, {21: 0.0}, [({"snap": 21, "pos": 2}, 1.0)])
    assert lag == {21: None}
    lag = attribute_lag(log, {21: 0.0}, [({"snap": 21, "pos": 2}, 1.0),
                                         ({"snap": 21, "pos": 3}, 2.0)])
    assert lag == {21: 2.0}


def test_backlog_max():
    assert backlog_max([]) == 0
    # commits at 0, 1, 2; delivered at 2.5, 2.5, 3 -> three open at t=2
    assert backlog_max([(0, 2.5), (1, 2.5), (2, 3)]) == 3
    # each delivered before the next commit -> never more than one open
    assert backlog_max([(0, 0.5), (1, 1.5), (2, 2.5)]) == 1
    assert backlog_max([(0, None), (1, 1.5)]) == 2


# -- spans --------------------------------------------------------------------

def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "req": None}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "batch", 0.0, 10.0),
        _span(1, "read", 1.0, 4.0, parent=0),
        _span(2, "decode", 3.0, 6.0, parent=0),   # overlaps read by 1 s
        _span(3, "sink", 8.0, 12.0, parent=0),    # clipped at parent end
        _span(4, "fsync", 9.0, 9.5, parent=3),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0)
    assert st[3] == pytest.approx(3.5)
    by_name = self_time_by_name(spans)
    assert by_name["batch"] == {"self_s": pytest.approx(3.0), "count": 1}


def test_benchmark_json_lists_what_run_reports():
    """BENCHMARK.json names workloads run.py has and the metrics it
    reports."""
    import json

    import run

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.LAYER_METRICS


def test_tracer_records_parent_links_only_when_enabled():
    off = Tracer(False)
    with off.span("x") as sid:
        assert sid is None
    assert off.spans == []

    tr = Tracer(True)
    with tr.span("outer", req=7) as outer:
        with tr.span("inner", parent=outer):
            pass
    names = {s["name"]: s for s in tr.spans}
    assert names["inner"]["parent"] == names["outer"]["id"]
    assert names["outer"]["req"] == 7
    st = self_times(tr.spans)
    assert st[names["outer"]["id"]] <= (
        names["outer"]["end"] - names["outer"]["start"])
