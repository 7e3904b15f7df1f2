"""The benchmark's own tests; they need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))  # the repo root, for tools/

import analytics  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import layer_metrics, self_times, union_length  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, names in os.walk(root):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _inputs(tmp_path, seed: int, tag: str) -> str:
    out = tmp_path / tag
    gen.write_analytics(seed, 0.001, str(out / "analytics"))
    for day in range(2):
        gen.write_events_day(seed, day, 2000, 100, str(out / "etl"))
    return str(out)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _inputs(tmp_path, 7, "a")
    b = _inputs(tmp_path, 7, "b")
    assert _tree_digest(a) == _tree_digest(b)


def test_other_seed_gives_other_inputs(tmp_path):
    a = _tree_digest(_inputs(tmp_path, 7, "a"))
    b = _tree_digest(_inputs(tmp_path, 8, "b"))
    assert a != b


def test_events_day_shape():
    day = gen.events_day(3, 1, 5000, 200, first_id=5000)
    assert day.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    keys = list(zip(*(day.column(c).to_pylist() for c in ("user_id", "ts", "event_type"))))
    assert len(keys) - len(set(keys)) >= 5000 // 50 * 0.9  # ~2% repeated dedup keys
    assert day.column("user_id").null_count > 0
    ts = day.column("ts").cast("int64").to_pylist()
    assert ts == sorted(ts)
    assert min(ts) >= gen.EPOCH_2024_US + gen.DAY_US
    assert max(ts) < gen.EPOCH_2024_US + 2 * gen.DAY_US


def test_result_key_ignores_row_and_column_order_but_not_types():
    types = {"a": "int64", "b": "string"}
    key = analytics.result_key(["b", "a"], types, [("x", 1), ("y", 2)])
    assert key == analytics.result_key(["a", "b"], types, [(2, "y"), (1, "x")])
    assert key != analytics.result_key(["a", "b"], {**types, "a": "int32"}, [(2, "y"), (1, "x")])
    assert key != analytics.result_key(["a", "b"], types, [(2, "y"), (1, "z")])


def _span(i, parent, start, end, name="op.x", py4j=(0, 0)):
    return {"id": i, "parent": parent, "name": name, "op": 0, "start": start,
            "end": end, "py4j0": py4j[0], "py4j1": py4j[1], "attrs": {}}


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0


def test_self_time_on_hand_built_tree():
    # root 0..10 with children 1..4 and 3..6 (overlapping) and 8..12
    # (running past its parent); the first child has a grandchild 2..3
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),
        _span(3, 0, 8.0, 12.0),
        _span(4, 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (5.0 + 2.0)  # 1..6 covered, plus 8..10 clipped
    assert st[1] == 3.0 - 1.0
    assert st[2] == 3.0
    assert st[3] == 4.0
    assert st[4] == 1.0


def test_layer_metrics_split_self_time_jobs_and_py4j():
    spans = [
        _span(0, None, 0.0, 10.0, "op.entry", (0, 100)),
        _span(1, 0, 0.0, 4.0, "operators.q", (0, 60)),
        _span(2, 1, 1.0, 2.0, "io.load_table", (10, 30)),
        _span(3, 0, 4.0, 10.0, "exec.action", (60, 100)),
    ]
    jobs = [
        {"span": 2, "start": 1.1, "end": 1.5, "tasks": 1, "run_ms": 300, "shuffle_write": 0, "spill": 0},
        {"span": 3, "start": 5.0, "end": 7.0, "tasks": 4, "run_ms": 6000, "shuffle_write": 2e6, "spill": 0},
        {"span": 3, "start": 6.0, "end": 8.0, "tasks": 4, "run_ms": 6000, "shuffle_write": 0, "spill": 1e6},
    ]
    m = layer_metrics(spans, jobs, "exec.action")
    assert m["operators.self_s"] == 3.0
    assert m["io.load_table_s"] == 1.0
    assert m["io.jobs"] == 1 and m["operators.jobs"] == 0
    assert m["operators.py4j_calls"] == 40 and m["io.py4j_calls"] == 20
    assert m["exec.jobs"] == 2 and m["exec.tasks"] == 8
    assert m["exec.s"] == 6.0
    assert m["exec.busy_s"] == 3.0
    assert m["exec.gap_s"] == 3.0
    assert m["exec.job_s"] == 4.0
    assert m["exec.shuffle_write_mb"] == 2.0 and m["exec.spill_mb"] == 1.0


def _spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))


def test_reported_metrics_match_the_spec():
    """The run emits exactly the metrics BENCHMARK.json declares."""

    class FakeTracer:
        spans, jobs, op_stats = [], [], {}

    class FakeCtx:
        session_s = [1.0]

    res = {"tracer": FakeTracer(), "traced_ops": set(), "passes": 1, "traced_stats": [],
           "window": "exec.action", "overhead_s": 0.0, "untraced_pass_s": 1.0}
    spec = _spec()
    assert set(run.per_layer(FakeCtx(), res)) == {m["name"] for m in spec["per_layer"]}
    assert set(run.E2E_UNITS) == {m["name"] for m in spec["end_to_end"]}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
