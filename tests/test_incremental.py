"""Watermark-store + incremental-runner property tests (ST1-ST8)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigquery_postgres_events_etl_spark.io import load_table
from bigquery_postgres_events_etl_spark.operators.etl import flagship_pipeline
from bigquery_postgres_events_etl_spark.schemas import APPLICATION_EVENTS_DEDUP_KEY
from bigquery_postgres_events_etl_spark.sources.sinks import idempotent_append_parquet
from bigquery_postgres_events_etl_spark.sources.watermark import (
    read_watermark_us,
    write_watermark_us,
)
from bigquery_postgres_events_etl_spark.streaming.incremental import (
    run_incremental_etl,
)

NOW_US = 1706655976220708  # fixture max ts (2024-01-30 23:26:16.220708)
EARLY_US = 1704067200000000  # 2024-01-01 00:00:00


def test_lookback_fallback(tmp_path):
    """ST2: missing state → now − lookback (flask_server.py:63-68)."""
    p = str(tmp_path / "wm.txt")
    assert read_watermark_us(p, lookback_hours=24, now_us=NOW_US) == NOW_US - 24 * 3600 * 1_000_000


def test_corrupt_state_falls_back(tmp_path):
    p = tmp_path / "wm.txt"
    p.write_text("not-a-number")
    assert read_watermark_us(str(p), 1, now_us=NOW_US) == NOW_US - 3600 * 1_000_000


def test_watermark_monotonic(tmp_path):
    """ST4: the watermark only moves forward."""
    p = str(tmp_path / "wm.txt")
    assert write_watermark_us(p, 100)
    assert not write_watermark_us(p, 50)
    assert not write_watermark_us(p, 100)
    assert read_watermark_us(p, 1, now_us=NOW_US) == 100
    assert write_watermark_us(p, 200)
    assert read_watermark_us(p, 1, now_us=NOW_US) == 200


def test_incremental_run_and_idempotent_rerun(spark, sf_dir, tmp_path):
    """ST3: a replay (crash-before-advance) inserts nothing new; a
    normal second run sees no rows above the advanced watermark."""
    state = str(tmp_path / "wm.txt")
    target = str(tmp_path / "target")
    write_watermark_us(state, EARLY_US + 15 * 24 * 3600 * 1_000_000)  # mid-window

    r1 = run_incremental_etl(spark, sf_dir, state, target, now_us=NOW_US)
    assert r1["status"] == "success"
    assert r1["records_inserted"] == r1["records_fetched"] > 0
    assert r1["watermark_advanced"]

    # crash-before-advance replay: the watermark never advanced past
    # its pre-run value, so the identical batch is re-fetched — the
    # idempotent sink must drop every replayed row
    write_watermark_us(state + ".reset", EARLY_US + 15 * 24 * 3600 * 1_000_000)
    r2 = run_incremental_etl(
        spark, sf_dir, state + ".reset", target, now_us=NOW_US
    )
    assert r2["status"] == "success"
    assert r2["records_fetched"] == r1["records_fetched"]
    assert r2["records_inserted"] == 0  # all dupes anti-joined away

    # normal incremental rerun: watermark advanced → nothing new
    r3 = run_incremental_etl(spark, sf_dir, state, target, now_us=NOW_US)
    assert r3["records_fetched"] == 0
    assert r3["records_inserted"] == 0
    assert not r3["watermark_advanced"]


def test_error_lands_in_status(spark, tmp_path):
    """ST8: failures are reported in the status record, not raised
    (flask_server.py:223-229)."""
    r = run_incremental_etl(
        spark, "/nonexistent/dir", str(tmp_path / "wm"), str(tmp_path / "t")
    )
    assert r["status"] == "error"
    assert "error" in r


# -- one-pass contract --------------------------------------------------

_SOURCE_SCAN = "events.parquet"  # the events source under the source dir


def _source_scan_jobs(spark, group: str) -> int:
    """Scans of the events source that emitted rows in ``group``'s
    SQL executions. A query runs each scan node in one stage of one of
    its jobs; a scan inside a cached plan counts only in the execution
    that materialized the cache."""
    from bench import scan_records

    return sum(1 for desc, rows in scan_records(spark, group) if _SOURCE_SCAN in desc and rows)


def _source_max_us(sf_dir) -> int:
    """The source's largest ``ts`` in µs, read from its data pages."""
    ts = pq.read_table(os.path.join(sf_dir, _SOURCE_SCAN), columns=["ts"]).column("ts")
    return pc.max(ts.cast(pa.int64())).as_py()


def _batch(spark, sf_dir, wm):
    return flagship_pipeline(load_table(spark, sf_dir, "events"), watermark_us=wm)


def _two_pass(spark, sf_dir, wm, target):
    """A trigger's record computed independently, one action per
    figure: the batch's count and max timestamp, and the rows the
    anti-join against the current target keeps."""
    batch = _batch(spark, sf_dir, wm)
    max_ts = batch.agg(F.max("event_timestamp")).first()[0]
    new = batch
    if os.path.exists(target):
        keys = list(APPLICATION_EVENTS_DEDUP_KEY)
        new = batch.join(spark.read.parquet(target).select(*keys), keys, "left_anti")
    return {
        "records_fetched": batch.count(),
        "last_processed_timestamp": max_ts if max_ts is not None else wm,
        "records_inserted": new.count(),
    }


def test_parquet_trigger_is_one_pass_and_matches_two_pass(spark, sf_dir, tmp_path):
    """A parquet-sink trigger scans the source in at most one Spark job
    (none when the source holds no row above the watermark), and its
    observed record equals a separate two-pass computation: a first
    load, a new day (part new, part already loaded), an idle trigger
    and a crash replay."""
    state = str(tmp_path / "wm.txt")
    target = str(tmp_path / "target")
    late = EARLY_US + 25 * 24 * 3600 * 1_000_000
    mid = EARLY_US + 15 * 24 * 3600 * 1_000_000
    sc = spark.sparkContext
    # (trigger, watermark written before it; None keeps the advanced one)
    runs = [("first_load", late), ("new_day", mid), ("idle", None), ("replay", mid)]
    records = {}
    for kind, reset in runs:
        if reset is not None:
            with open(state, "w") as f:
                f.write(str(reset))
        wm = read_watermark_us(state, 1, now_us=NOW_US)
        want = _two_pass(spark, sf_dir, wm, target)
        group = f"one-pass-{kind}"
        sc.setJobGroup(group, kind)
        try:
            got = run_incremental_etl(spark, sf_dir, state, target, now_us=NOW_US)
        finally:
            sc._jsc.clearJobGroup()
        assert got["status"] == "success", got
        assert {k: got[k] for k in want} == want, kind
        # a trigger whose source holds no row newer than the watermark
        # runs no source scan at all: the footers prove it first
        assert _source_scan_jobs(spark, group) == int(_source_max_us(sf_dir) > wm), kind
        # commit-then-advance, to the observed max
        assert read_watermark_us(state, 1, now_us=NOW_US) == max(wm, want["last_processed_timestamp"])
        records[kind] = got
    assert records["first_load"]["records_inserted"] > 0
    assert 0 < records["new_day"]["records_inserted"] < records["new_day"]["records_fetched"]
    assert records["idle"]["records_fetched"] == 0
    assert records["replay"]["records_fetched"] > 0 == records["replay"]["records_inserted"]
    committed = spark.read.parquet(target)
    assert committed.count() == committed.dropDuplicates(list(APPLICATION_EVENTS_DEDUP_KEY)).count()


def test_partitioned_append_counts_committed_rows(spark, sf_dir, tmp_path):
    """``partition_by`` target: the inserted count equals the two-pass
    anti-join count and the committed delta, on a first and a partly
    overlapping second append."""
    target = str(tmp_path / "target")
    before = 0
    for wm in (EARLY_US + 15 * 24 * 3600 * 1_000_000, EARLY_US):
        want = _two_pass(spark, sf_dir, wm, target)["records_inserted"]
        got = idempotent_append_parquet(
            spark, _batch(spark, sf_dir, wm), target, partition_by=["event_date"]
        )
        after = spark.read.parquet(target).count()
        assert got == want == after - before > 0
        before = after
