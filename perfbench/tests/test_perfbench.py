"""Self-tests of the benchmark's own code (no Spark needed):
seeded inputs repeat, metric names and units are well formed, every
metric BENCHMARK.json declares is emitted, and the answer model follows
the engine's documented query semantics.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
from oracle import Truth, rows_match  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


def _take(stream, n):
    return list(itertools.islice(stream, n))


def test_same_seed_same_inputs():
    a, b = gen.base_points(5), gen.base_points(5)
    pd.testing.assert_frame_equal(a, b)
    for cycle in (0, 1, 2):
        da = gen.to_docs(5, cycle, gen.cycle_batch(5, cycle, a))
        db = gen.to_docs(5, cycle, gen.cycle_batch(5, cycle, b))
        assert da == db
        assert gen.cycle_delete(5, cycle) == gen.cycle_delete(5, cycle)
    for client in (0, 1):
        assert _take(gen.dashboard_stream(5, client), 50) == _take(gen.dashboard_stream(5, client), 50)
    assert _take(gen.raw_stream(5, a), 40) == _take(gen.raw_stream(5, b), 40)


def _reads(index) -> set[str]:
    if isinstance(index, str):
        return {index}
    return set(gen.SERIES if index is None else index)


def test_routed_queries_name_a_field_of_every_point():
    """Each non-empty bucket of a routed query holds a queried field, so
    the routed path's dropped-bucket defect (known_defects.py) cannot
    decide an answer."""
    specs = [spec for _, spec in _take(gen.dashboard_stream(5, 0), 500)]
    specs += [spec for cycle in range(4) for spec in gen.cycle_panels(cycle)]
    for spec in specs:
        read = _reads(spec["index"])
        if read & set(gen.SPARSE):
            assert set(gen.SPARSE_FIELDS) <= set(spec["fields"]), spec
        if read & set(gen.DENSE):
            assert set(gen.DENSE_FIELDS) & set(spec["fields"]), spec


def test_other_seed_other_inputs():
    assert not gen.base_points(5).equals(gen.base_points(6))
    assert _take(gen.dashboard_stream(5, 0), 20) != _take(gen.dashboard_stream(6, 0), 20)


def _rec(kind, ms, **extra):
    vec = dict.fromkeys(("jobs", "tasks", "executor_run_ms", "input_bytes", "input_records",
                         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_gap_ms"), 1.0)
    rec = {"kind": kind, "ms": ms, "ok": True, "hook_ms": 0.5, "spark": vec}
    rec.update(extra)
    return rec


def _run(workload: str, traced: bool) -> dict:
    """A run record shaped like ``workloads.run_workload``'s."""
    agg = dict(plan_ms=10.0, exec_ms=20.0, level="hour", rows_returned=3)
    ops = [_rec("agg_query", 30.0 + i, **agg) for i in range(25)]
    if workload == "ingest_refresh":
        ops += [_rec("put", 500.0, points=400), _rec("refresh", 6000.0), _rec("delete", 900.0),
                _rec("point_get", 250.0), _rec("range_scan", 300.0, level="raw", rows_returned=9)]
    per_level = dict.fromkeys(metrics.LEVELS, 2.0)
    return {
        "workload": workload, "traced": traced, "ops": ops, "verify": [], "busy_s": 10.0,
        "freshness_ms": [7000.0], "session_start_s": 5.0, "disk_bytes": 1000, "live_points": 10,
        "setups": [dict(bulk_append_s=1.0, compact_s=1.0, refresh_full_s=3.0, total_s=5.0)] * 3,
        "files_per_series_before": per_level, "files_per_series_after": per_level,
        "self_ms": {"query.exec": 12.0}, "spans": [], "peak_rss_mb": 900.0, "extra": {},
    }


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("traced", [False, True])
def test_metric_names_and_units(workload, traced):
    out = metrics.assemble(_run(workload, traced))
    for section in out.values():
        for name, m in section.items():
            assert metrics.NAME_RE.match(name), name
            assert set(m) == {"value", "unit"} and m["unit"], name
            assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_declared_metrics_are_emitted(workload):
    declared_e2e = {m["name"]: m["unit"] for m in DECLARED["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in DECLARED["per_layer"]}
    untraced = metrics.assemble(_run(workload, False))["end_to_end"]
    traced = metrics.assemble(_run(workload, True))["per_layer"]
    assert {k: v["unit"] for k, v in untraced.items()} == declared_e2e
    assert {k: v["unit"] for k, v in traced.items()} == declared_layer


def test_declared_workloads_exist():
    assert [w["name"] for w in DECLARED["workloads"]] == list(WORKLOADS)


def test_tail_needs_ten_samples_beyond():
    assert metrics.tail(list(range(19))) is None
    value, label = metrics.tail([float(i) for i in range(1, 101)])
    assert (value, label) == (90.0, "p90")


# -- the answer model ----------------------------------------------------------

H = gen.HOUR
T = gen.T0 + 3 * gen.DAY  # 2016-08-04, a Thursday


def _points(rows):
    df = pd.DataFrame(rows, columns=["series", "ts", "close", "foo"]).reindex(
        columns=["series", "ts", *gen.FIELDS]
    )
    return df.astype({f: "float64" for f in gen.FIELDS})


def test_oracle_lww_delete_and_get():
    t = Truth(_points([("s", T, 1.0, None), ("s", T + H, 2.0, None)]))
    t.upsert(_points([("s", T, None, 5.0), ("s", T, None, 6.0)]))  # last in batch wins, map replaced
    assert t.get("s", T) == {"foo": 6.0}
    t.delete("s", T + H, T + 2 * H)
    assert t.get("s", T + H) is None and t.live_points() == 1


def test_oracle_buckets_and_reducers():
    t = Truth(_points([
        ("s", T + 10, 1.0, None),
        ("s", T + 20, 3.0, None),
        ("s", T + H + 5, None, 7.0),  # a bucket where close is absent
    ]))
    spec = {"index": "s", "from": T, "to": T + 2 * H, "group": "hour",
            "fields": {"close": ["first", "last", "sum", "count", "avg"]}}
    expected = [(T, 1.0, 3.0, 4.0, 2, 2.0), (T + H, None, None, None, 0, None)]
    assert rows_match(t.answer(spec), expected)
    week = {"index": ["s"], "from": T - 7 * gen.DAY, "to": T + gen.DAY, "group": "week",
            "fields": {"close": "max"}}
    monday = T - 3 * gen.DAY  # 2016-08-01
    assert rows_match(t.answer(week), [("s", monday, 3.0)])
    nmin = {"index": "s", "from": T + 15, "to": T + H, "group": "5minutes", "fields": {"close": "count"}}
    assert rows_match(t.answer(nmin), [(T + 15, 1)])
    month = {"index": "s", "from": gen.T0, "to": gen.T0 + 31 * gen.DAY, "group": "month",
             "fields": {"foo": "ma:2"}}
    assert rows_match(t.answer(month), [(gen.T0, 7.0)])


def test_oracle_range_scan():
    t = Truth(_points([("s", T, 1.0, np.nan), ("s", T + 1, None, 2.0)]))
    spec = {"index": "s", "from": T, "to": T + 2, "group": "minute", "fields": {}}
    assert t.answer(spec) == [(T, {"close": 1.0}), (T + 1, {"foo": 2.0})]
