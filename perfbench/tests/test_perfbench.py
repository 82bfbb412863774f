"""Tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import core  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import serve  # noqa: E402
import vtdml  # noqa: E402


def test_schedule_is_identical_for_a_seed():
    assert inputs.serve_slots(7) == inputs.serve_slots(7)
    assert inputs.serve_slots(7) != inputs.serve_slots(8)
    users = [inputs.vt_update_user(7, c) for c in range(1, 30)]
    assert users == [inputs.vt_update_user(7, c) for c in range(1, 30)]
    assert [inputs.event_row(i, 3, 7) for i in range(50)] == [
        inputs.event_row(i, 3, 7) for i in range(50)
    ]


def test_serve_rotation_covers_every_shape_and_size_once():
    slots = inputs.serve_slots(3)
    shapes = {(shape, size) for shape, size, _ in slots}
    assert len(slots) == len(shapes) == 6 * len(inputs.SIZES) + 1
    assert sorted(len(p["Users"]) for _, _, p in slots).count(2000) == 6


def test_percentile_refuses_a_thin_tail():
    with pytest.raises(ValueError):
        core.percentile([1.0] * 99, 0.9)
    assert core.percentile([float(i) for i in range(1, 101)], 0.9) == pytest.approx(90.5, abs=0.01)
    with pytest.raises(ValueError):
        core.percentile([1.0] * 49, 0.8)
    assert core.percentile([float(i) for i in range(1, 51)], 0.8) == pytest.approx(40.5, abs=0.01)


def test_percentile_is_smooth_across_a_gap_between_clusters():
    low, high = [100.0] * 25, [200.0] * 25
    # a single order statistic jumps to one edge; the estimate sits between
    assert 140.0 < core.percentile(low + high, 0.5) < 160.0
    assert core.percentile([5.0] * 60, 0.5) == pytest.approx(5.0)


def _boom():
    raise RuntimeError("op failed")


def test_failed_and_wrong_ops_count_as_errors_not_dropped_samples():
    ops = [core.Op("good", lambda: 1) for _ in range(48)]
    ops += [core.Op("raises", _boom), core.Op("wrong", lambda: 2)]
    records = [core.execute(op) for op in ops]
    records[-1].wrong = "2 rows, expected 1"
    assert isinstance(records[-2].error, RuntimeError)
    assert sum(not r.ok for r in records) == 2
    elapsed = 10.0
    m = core.end_to_end(records, elapsed, setup_s=1.0)
    assert m["ops_s"] == pytest.approx(48 / elapsed)
    # 50 samples, not 48: the two bad ops are ranked at the window's length
    assert m[core.TAIL_NAME] < elapsed * 1000.0 / 2
    bad = core.end_to_end(records[:30] + records[-2:] * 10, elapsed, 1.0)
    assert bad[core.TAIL_NAME] > elapsed * 1000.0 / 2


def test_window_ends_on_a_whole_rotation():
    ops = iter([core.Op("x", None, {"slot": i % 19}) for i in range(1000)])
    records, _ = core.timed_window(ops, 0.0, 50, serve.ends_rotation)
    assert len(records) == 57


def test_vt_window_ends_on_a_cycle_with_its_maintenance():
    wl = vtdml.VtDml.__new__(vtdml.VtDml)  # schedule only: no Spark, no table
    wl.spark, wl.seed, wl.rows, wl.path, wl.head, wl.tracer = None, 1, 5000, "", 0, None
    ops = wl.ops()
    warm = [next(ops) for _ in range(vtdml.WARM_OPS)]
    assert [op.kind for op in warm].count("changes") == 4
    # cycles 5-12 with the maintenance pair after cycle 10: 8 x 6 + 2 ops
    ops = iter(list(itertools.islice(ops, 200)))
    records, _ = core.timed_window(ops, 0.0, 50, vtdml.ends_rotation)
    kinds = [r.op.kind for r in records]
    assert len(records) == 50 and kinds[-1] == "changes"
    assert kinds.count("compact") == kinds.count("vacuum") == 1
    assert kinds[36:38] == ["compact", "vacuum"]


def test_spread_is_iqr_over_median():
    assert core.spread([10.0, 10.0, 10.0, 10.0]) == 0.0
    assert core.spread([9.0, 10.0, 11.0, 10.0, 10.0]) > 0.0


def test_change_feed_replay_orders_removals_before_additions():
    state = vtdml.Tracked({i: inputs.event_row(i, 0, 1) for i in range(4)})
    rows = dict(state.rows)
    new = inputs.event_row(2, 1, 1)
    changes = [
        {**dict(zip(("event_id", "user_id", "event_type", "value", "ver"), new)),
         "_change_type": "update_postimage", "_commit_version": 5},
        {**dict(zip(("event_id", "user_id", "event_type", "value", "ver"), rows[2])),
         "_change_type": "update_preimage", "_commit_version": 5},
        {**dict(zip(("event_id", "user_id", "event_type", "value", "ver"), rows[0])),
         "_change_type": "delete", "_commit_version": 6},
    ]
    vtdml._replay(rows, changes)
    assert rows == {1: state.rows[1], 2: new, 3: state.rows[3]}


def test_tracked_table_indexes_follow_updates():
    t = vtdml.Tracked({i: inputs.event_row(i, 0, 1) for i in range(100)})
    buys = sum(r[2] == "buy" for r in t.rows.values())
    assert t.n_buy == buys and t.lowest == 0
    row = t.pop(0)
    t.put(row[:3] + (row[3] + 1.0,) + row[4:])
    assert t.lowest == 0 and t.n_buy == buys
    t.pop(0)
    assert t.lowest == 1


def test_benchmark_json_matches_run_py():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_tracing_overhead_ignores_the_op_mix():
    def rec(kind, s):
        return core.Record(core.Op(kind, None), s)

    base = [rec("a", 1.0), rec("b", 3.0)] * 3
    traced = [rec("a", 1.1), rec("b", 3.3), rec("maintenance", 0.01)] * 3
    assert run.tracing_overhead(base, traced) == pytest.approx(0.1)
