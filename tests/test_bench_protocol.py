"""Contracts of the official bench harness (bench.py).

bench.py is driver-critical: a malformed or over-long final line loses
the round's official perf record (it happened in r5 — 2,971-byte line
truncated by the driver's ~2,000-byte stdout tail — and nearly again
in r6 via an assert placed before the print). These tests pin the
protocol pieces: the previous-round reference loader, the
mover-flagging trigger, the final-line size budget under worst-case
numbers, and (on the session fixture) the status-store job-group
reader.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_median_even_and_odd():
    assert bench._median([3.0, 1.0, 2.0]) == 2.0
    assert bench._median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_previous_round_parses_committed_reference_files():
    """The trigger compares against the newest BENCH_r*.json (driver
    format: medians under "parsed") and the committed BENCH_DETAIL.json
    spreads; both exist in the repo from round 8 onward.

    HEADLINE is frozen since r1, so every headline query must have an
    official median on record. TIER2 may gain queries mid-round (the
    r11 composition change); a newcomer legitimately has no previous
    median — _flag_movers skips it — so tier-2 coverage is asserted
    only for the majority that predates the newest record."""
    import glob as _glob
    import re as _re

    root = os.path.dirname(os.path.abspath(bench.__file__))
    numbered = sorted(
        (int(m.group(1)), p)
        for p in _glob.glob(os.path.join(root, "BENCH_r*.json"))
        if (m := _re.search(r"r(\d+)\.json$", os.path.basename(p)))
    )
    with open(numbered[-1][1]) as f:
        raw = f.read()
    # read at the record's own core count (a different one degrades to
    # empty — test_previous_round_ignores_a_different_core_count)
    med, spread = bench._previous_round(root, json.loads(raw)["cpus"])
    for name in bench.HEADLINE:
        assert name in med, name
        assert med[name] > 0
    covered = [n for n in bench.TIER2 if n in med]
    # exact drift guard (r11 ADVICE: a 50% blanket let half the medians
    # vanish silently): a TIER2 name may be uncovered ONLY if it is
    # genuinely absent from the newest record's raw text (a newcomer).
    # A name present in the file but not in the parsed medians means
    # the parser dropped it — that IS drift, fail loudly.
    dropped = [n for n in bench.TIER2 if n not in med and f'"{n}"' in raw]
    assert not dropped, (
        f"parser drift: {dropped} present in {numbered[-1][1]} but "
        "missing from bench._previous_round medians"
    )
    for name in covered:
        assert med[name] > 0
    # spreads come from the sidecar (may legitimately be a subset)
    assert spread, "BENCH_DETAIL.json yielded no spreads"


def test_previous_round_degrades_to_empty_on_missing_files(tmp_path):
    med, spread = bench._previous_round(str(tmp_path), 4)
    assert med == {} and spread == {}


def test_previous_round_ignores_a_different_core_count(tmp_path):
    """A 32-core record's medians are no reference for a 4-core run:
    comparing them would flag entries on core count alone."""
    record = {"cpus": 32, "parsed": {"queries": {"q1_pricing_summary": 1.0}}}
    (tmp_path / "BENCH_r99.json").write_text(json.dumps(record))
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps({"queries_detail": {"q1_pricing_summary": {"spread": 0.1}}})
    )
    assert bench._previous_round(str(tmp_path), 32)[0] == {"q1_pricing_summary": 1.0}
    assert bench._previous_round(str(tmp_path), 4) == ({}, {})


def test_flag_movers_triggers_only_past_noise():
    prev = {"a": 1.0, "b": 1.0, "c": 1.0, "new_entry_absent": 1.0}
    spreads = {"a": 0.5, "b": 0.05, "c": 0.05}
    runs = {
        "a": [1.3] * 5,          # delta 0.3 < prev spread 0.5 -> not flagged
        "b": [1.3] * 5,          # delta 0.3 > all noise terms -> flagged
        "c": [1.02] * 5,         # delta 0.02 < 50 ms floor -> not flagged
        "d": [9.9] * 5,          # no previous record -> not flagged
    }
    assert bench._flag_movers(runs, prev, spreads) == ["b"]


def test_flag_movers_own_spread_absorbs_delta():
    # own-run spread larger than the delta: wobbly query, no re-run
    runs = {"a": [0.5, 1.0, 1.5, 2.0, 2.5]}  # median 1.5, spread 2.0
    assert bench._flag_movers(runs, {"a": 1.0}, {}) == []


def test_flag_movers_caps_at_strongest_movers():
    prev = {f"q{i}": 1.0 for i in range(20)}
    # every query moved; mover strength grows with i
    runs = {f"q{i}": [1.0 + 0.1 * (i + 1)] * 5 for i in range(20)}
    flagged = bench._flag_movers(runs, prev, {})
    assert len(flagged) == 8
    assert flagged[0] == "q19"  # strongest delta/noise first
    assert set(flagged) == {f"q{i}" for i in range(12, 20)}


def test_final_line_fits_driver_tail_window_worst_case():
    """The driver records only the LAST ~2,000 bytes of stdout; the
    final line must stay under bench.py's own 1,500-byte guard even
    with worst-plausible widths (4-digit seconds, 3 decimals) for
    every query."""
    worst = 9999.999
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": worst * len(bench.HEADLINE),
            "unit": "sec",
            "queries": {q: worst for q in bench.HEADLINE},
            "value2": worst * len(bench.TIER2),
            "queries2": {q: worst for q in bench.TIER2},
            "value_min": worst * len(bench.HEADLINE),
            "value2_min": worst * len(bench.TIER2),
            "sf": 0.1,
        }
    )
    assert len(line) < 1500, len(line)


def test_group_metrics_sums_non_skipped_stages_per_group(spark):
    """Per job group, from the driver's status store: one shuffle
    (4 map, 2 reduce partitions) counted once under one group and a
    twin counted twice under another. The twin's second job reuses its
    map output, so that stage is SKIPPED: two jobs, two more tasks, and
    no more shuffle bytes. A group that ran no job reads all zero."""
    sc = spark.sparkContext

    def counted(group: str, times: int) -> dict:
        rdd = sc.parallelize(range(1000), 4).map(lambda x: (x % 10, 1)).reduceByKey(
            lambda a, b: a + b, 2
        )
        sc.setJobGroup(group, group)
        try:
            for _ in range(times):
                rdd.count()
        finally:
            sc._jsc.clearJobGroup()
        return bench.group_metrics(spark, group)

    once, twice = counted("gm-once", 1), counted("gm-twice", 2)
    assert once["jobs"] == 1 and twice["jobs"] == 2
    assert once["tasks"] == 6 and twice["tasks"] == once["tasks"] + 2
    assert once["shuffle_mb"] > 0
    assert twice["shuffle_mb"] == once["shuffle_mb"] == once["shuffle_read_mb"]
    assert twice["shuffle_read_mb"] == 2 * once["shuffle_read_mb"]
    assert bench.group_metrics(spark, "gm-none") == {
        "jobs": 0, "job_s": 0.0, "tasks": 0, "input_records": 0,
        "shuffle_read_mb": 0.0, "shuffle_mb": 0.0,
    }


def test_evicted_stage_reads_as_absent(spark):
    """The status store evicts skipped stages first once it holds 1000
    stages; a stage it does not hold reads as None, which
    group_metrics counts as skipped."""
    store = spark.sparkContext._jsc.sc().statusStore()
    assert bench._last_attempt(store, 10**9) is None
