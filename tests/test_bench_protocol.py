"""Contracts of the official bench harness (bench.py).

bench.py is driver-critical: a malformed or over-long final line loses
the round's official perf record (it happened in r5 — 2,971-byte line
truncated by the driver's ~2,000-byte stdout tail — and nearly again
in r6 via an assert placed before the print). These tests pin the
protocol pieces that do not need a SparkSession: the previous-round
reference loader, the mover-flagging trigger, the REST job-group
reader, and the final-line size budget under worst-case numbers.
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


def test_group_metrics_sums_non_skipped_stages_per_group(monkeypatch):
    """One read of the REST jobs + stages, summed per job group over
    non-skipped stages; job-seconds run submission → completion."""
    import io
    import types
    import urllib.request

    jobs = [
        {"jobGroup": "q#r1", "stageIds": [1, 2],
         "submissionTime": "2026-01-01T00:00:00.000GMT",
         "completionTime": "2026-01-01T00:00:01.500GMT"},
        {"jobGroup": "q#r1", "stageIds": [3],
         "submissionTime": "2026-01-01T00:00:02.000GMT",
         "completionTime": "2026-01-01T00:00:02.250GMT"},
        {"jobGroup": "q#r0", "stageIds": [4]},
        {"stageIds": [4]},  # no group: not reported
    ]
    stage = {"numCompleteTasks": 2, "inputRecords": 1_000,
             "shuffleReadBytes": 500_000, "shuffleWriteBytes": 250_000}
    stages = [
        {"stageId": 1, "status": "COMPLETE", **stage},
        {"stageId": 2, "status": "SKIPPED", **stage},
        {"stageId": 3, "status": "COMPLETE", **stage},
        {"stageId": 4, "status": "COMPLETE", **stage},
    ]

    def urlopen(url, timeout):
        body = jobs if url.endswith("/jobs") else stages
        return io.BytesIO(json.dumps(body).encode())

    monkeypatch.setattr(urllib.request, "urlopen", urlopen)
    sc = types.SimpleNamespace(uiWebUrl="http://localhost:4040", applicationId="app")
    got = bench.group_metrics(types.SimpleNamespace(sparkContext=sc))
    assert got["q#r1"] == {"jobs": 2, "job_s": 1.75, "tasks": 4, "input_records": 2_000,
                           "shuffle_read_mb": 1.0, "shuffle_mb": 0.5}
    assert got["q#r0"]["jobs"] == 1 and got["q#r0"]["job_s"] == 0.0
    assert set(got) == {"q#r1", "q#r0"}


def test_group_metrics_degrades_to_empty_without_ui():
    import types

    sc = types.SimpleNamespace(uiWebUrl=None, applicationId="app")
    assert bench.group_metrics(types.SimpleNamespace(sparkContext=sc)) == {}


def test_group_metrics_degrades_to_empty_on_a_broken_reply(monkeypatch):
    """A read that fails mid-way (truncated HTTP body, or a record
    missing a field) is missing data, not an error that would abort
    bench.main before its final line."""
    import http.client
    import io
    import types
    import urllib.request

    sc = types.SimpleNamespace(uiWebUrl="http://localhost:4040", applicationId="app")
    spark = types.SimpleNamespace(sparkContext=sc)

    def truncated(url, timeout):
        raise http.client.IncompleteRead(b"")

    monkeypatch.setattr(urllib.request, "urlopen", truncated)
    assert bench.group_metrics(spark) == {}

    def malformed(url, timeout):
        body = [{"jobGroup": "q#r1"}] if url.endswith("/jobs") else [{}]
        return io.BytesIO(json.dumps(body).encode())

    monkeypatch.setattr(urllib.request, "urlopen", malformed)
    assert bench.group_metrics(spark) == {}
