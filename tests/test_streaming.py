"""Structured Streaming tests: AvailableNow run-to-completion with an
idempotent foreachBatch sink, checkpointed resume, windowed aggs."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from bigquery_postgres_events_etl_spark.io import load_table
from bigquery_postgres_events_etl_spark.operators.etl import flagship_pipeline
from bigquery_postgres_events_etl_spark.streaming.stream import (
    read_events_stream,
    run_streaming_etl,
    streaming_tumbling_counts,
)


def _stage_source(sf_dir, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    return str(src)


def test_streaming_etl_matches_batch(spark, sf_dir, tmp_path):
    """The streaming flagship run produces exactly the batch result."""
    src = _stage_source(sf_dir, tmp_path)
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    r = run_streaming_etl(spark, src, target, ckpt)
    batch_n = flagship_pipeline(load_table(spark, sf_dir, "events")).count()
    assert r["rows_in_target"] == batch_n > 0

    # resume with same checkpoint: no new files → no new rows (ST1)
    r2 = run_streaming_etl(spark, src, target, ckpt)
    assert r2["rows_in_target"] == batch_n


def test_streaming_tumbling_counts(spark, sf_dir, tmp_path):
    """Windowed streaming agg over the drained source equals the batch
    tumbling aggregation."""
    src = _stage_source(sf_dir, tmp_path)
    events = read_events_stream(spark, src)
    agg = streaming_tumbling_counts(events)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT sum(n_events) AS n FROM tumbling_out").first()["n"]
    assert got == load_table(spark, sf_dir, "events").count()


def test_streaming_watermark_drops_late_rows(spark, sf_dir, tmp_path):
    """ST7 improvement: with append mode + watermark, state for closed
    windows is emitted and dropped — the query completes with bounded
    state rather than the reference's silent late-row loss."""
    src = _stage_source(sf_dir, tmp_path)
    events = read_events_stream(spark, src)
    agg = streaming_tumbling_counts(events, window="1 hour", lateness="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits only finalized (watermark-passed) windows
    emitted = spark.sql("SELECT count(*) AS n FROM late_out").first()["n"]
    total_windows = (
        load_table(spark, sf_dir, "events")
        .select(F.window("ts", "1 hour").start, "event_type")
        .distinct()
        .count()
    )
    assert 0 < emitted <= total_windows


def test_stateful_user_profiles(spark, sf_dir, tmp_path):
    """Custom applyInPandasWithState operator: final per-user profiles
    after draining the source must equal the batch ground truth."""
    from bigquery_postgres_events_etl_spark.streaming.stateful import (
        streaming_user_profiles,
    )

    src = _stage_source(sf_dir, tmp_path)
    events = read_events_stream(spark, src)
    profiles = streaming_user_profiles(events)
    q = (
        profiles.writeStream.outputMode("update")
        .format("memory")
        .queryName("profiles_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.user_id: r
        for r in spark.sql(
            # last emitted row per user (update mode may emit per batch)
            """
            SELECT * FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
              FROM profiles_out
            ) WHERE rn = 1
            """
        ).collect()
    }
    batch = load_table(spark, sf_dir, "events")
    truth = {
        r.user_id: r
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.unix_micros("ts")).alias("last_ts_us"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    # exact per-user session counts: batch lag-based gap detection is
    # the ground truth for the stateful operator's gap counter
    from pyspark.sql import Window

    from bigquery_postgres_events_etl_spark.streaming.stateful import SESSION_GAP_US

    w = Window.partitionBy("user_id").orderBy("ts_us")
    sess_truth = {
        r.user_id: r.n_sessions
        for r in batch.select("user_id", F.unix_micros("ts").alias("ts_us"))
        .withColumn("prev", F.lag("ts_us").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev").isNull()
                | ((F.col("ts_us") - F.col("prev")) > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"))
        .collect()
    }
    assert set(got) == set(truth)
    for uid, t in truth.items():
        assert got[uid].n_events == t.n_events
        assert got[uid].last_ts_us == t.last_ts_us
        assert got[uid].n_sessions == sess_truth[uid]
        assert abs(got[uid].sum_value - t.sum_value) < 1e-6 * max(1.0, abs(t.sum_value))


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream join result equals the batch
    equivalent range join."""
    from bigquery_postgres_events_etl_spark.streaming.stream import (
        streaming_purchase_click_join,
    )

    src = _stage_source(sf_dir, tmp_path)
    events = read_events_stream(spark, src)
    joined = streaming_purchase_click_join(
        events.where(F.col("event_type") == "purchase"),
        events.where(F.col("event_type") == "click"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssjoin_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS n FROM ssjoin_out").first()["n"]

    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    batch_n = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).count()
    assert got == batch_n > 0


def test_streaming_dedup_composite_key_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark: duplicated source files dedupe to
    the batch-distinct key count with bounded state (the streaming
    native form of the K4 conflict-skip)."""
    import shutil

    src = tmp_path / "dup_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")  # full duplicate

    events = read_events_stream(spark, str(src))
    deduped = (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "ts", "event_type"])
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS n FROM dedup_out").first()["n"]
    batch_distinct = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .distinct()
        .count()
    )
    assert got == batch_distinct


def test_streaming_resume_processes_only_new_files(spark, sf_dir, tmp_path):
    """ST1 with growth: after a drained run, adding a new source file
    and re-running with the SAME checkpoint processes exactly the
    delta (idempotent sink absorbs the duplicate rows the second file
    shares with the first)."""
    import pyarrow.parquet as pq

    src = tmp_path / "grow_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    target = str(tmp_path / "grow_target")
    ckpt = str(tmp_path / "grow_ckpt")

    r1 = run_streaming_etl(spark, str(src), target, ckpt)
    n1 = r1["rows_in_target"]
    assert n1 > 0

    # second file: first half of the same events (all duplicates) plus
    # nothing new -> target must not grow
    t = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(t.slice(0, t.num_rows // 2), src / "b.parquet")
    r2 = run_streaming_etl(spark, str(src), target, ckpt)
    assert r2["rows_in_target"] == n1  # dedup absorbed the replayed half


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """At-least-once delivery (the same source file appearing twice)
    must collapse to exactly-once BEFORE the sink: the deduped stream
    emits each event_id once, and the total equals the batch-distinct
    count. Also pins state bounding: the plan uses
    dropDuplicatesWithinWatermark (evictable state), not plain
    dropDuplicates (state grows forever)."""
    import pyarrow.parquet as pq

    from bigquery_postgres_events_etl_spark.streaming.stream import (
        read_events_stream,
        streaming_dedup_events,
    )

    src = tmp_path / "dup_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")
    # byte-identical replay of the same data — same encoding, new file
    pq.write_table(
        pq.read_table(f"{sf_dir}/events.parquet"), src / "part-1.parquet"
    )

    deduped = streaming_dedup_events(read_events_stream(spark, str(src)))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out"
    ).first()
    want = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got["n"] == got["d"] == want > 0


def test_stream_static_enrichment_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static join: windowed per-segment counts from the
    enriched stream must equal the same join + groupBy run in batch
    (the static dim joins per micro-batch with no join state)."""
    import shutil

    from bigquery_postgres_events_etl_spark.streaming.stream import (
        read_events_stream,
        streaming_enriched_segment_counts,
    )

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")
    customer = load_table(spark, sf_dir, "customer")

    out = streaming_enriched_segment_counts(
        read_events_stream(spark, str(src)), customer
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("seg_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.segment): r.n_events
        for r in spark.sql("SELECT * FROM seg_out").collect()
    }
    e = load_table(spark, sf_dir, "events")
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    want = {
        (r.window_start, r.segment): r.n_events
        for r in e.join(dim, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("win"), "segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "segment", "n_events")
        .collect()
    }
    assert got == want and len(got) > 0


def test_max_files_per_trigger_batches_backfill_exactly_once(spark, sf_dir, tmp_path):
    """A 3-file backfill with maxFilesPerTrigger=1 must process as ≥3
    separate micro-batches whose union is exactly the source (no rows
    duplicated or dropped across batch boundaries)."""
    from bigquery_postgres_events_etl_spark.streaming.stream import (
        read_events_stream,
    )

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # slice with pyarrow so each file keeps the SOURCE's ts encoding
    # (a Spark re-write would switch to INT96 and defeat the probe)
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        ids = tbl["event_id"].to_pylist()
        mask = [x is not None and x % 3 == i for x in ids]
        pq.write_table(tbl.filter(mask), src / f"part{i}.parquet")
    e = load_table(spark, sf_dir, "events")
    stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("batched_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM batched_out"
    ).first()
    assert n_batches >= 3
    assert got["n"] == got["d"] == e.count()


def test_epoch_keyed_lake_sink_is_exactly_once(spark, sf_dir, tmp_path):
    """Epoch-idempotent foreachBatch: (a) the drained run equals the
    batch filter; (b) a REPLAYED epoch (same batch, same id — the
    post-write pre-commit crash) is a no-op; (c) a stranded .tmp from
    a mid-write crash does not block the retry or double-publish."""
    import os
    import shutil

    from bigquery_postgres_events_etl_spark.streaming.stream import (
        run_streaming_to_lake,
    )

    src = _stage_source(sf_dir, tmp_path)
    target = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    r = run_streaming_to_lake(spark, src, target, ckpt)
    want = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .count()
    )
    assert r["rows_in_target"] == want > 0
    assert r["epochs"]

    # (b) replay the same source+checkpoint: no new epochs, no new rows
    r2 = run_streaming_to_lake(spark, src, target, ckpt)
    assert r2["epochs"] == r["epochs"]
    assert r2["rows_in_target"] == want

    # (c) strand a half-written tmp next to a fresh epoch id and rerun
    # with new source data: the tmp is cleaned, the epoch publishes once
    stranded = os.path.join(target, "epoch=999.tmp")
    os.makedirs(stranded)
    with open(os.path.join(stranded, "garbage"), "w") as f:
        f.write("partial")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src, "more.parquet"))
    r3 = run_streaming_to_lake(spark, src, target, ckpt)
    assert len(r3["epochs"]) == len(r["epochs"]) + 1
    assert r3["rows_in_target"] == 2 * want
    assert not os.path.isdir(stranded) or "epoch=999" not in r3["epochs"]


def test_streaming_psi_monitor_zero_on_reference_and_idempotent(
    spark, sf_dir, tmp_path
):
    """PSI monitor: (a) a stream that IS the reference distribution
    scores exactly 0 per batch (identical histograms → p==q per bin);
    (b) two source files under maxFilesPerTrigger=1 become two
    independently-scored epochs; (c) a rerun on the same checkpoint
    replays nothing (epoch-idempotent monitor)."""
    import shutil as sh

    from bigquery_postgres_events_etl_spark.streaming.stream import (
        run_streaming_psi_monitor,
    )

    src = tmp_path / "psi_src"
    src.mkdir()
    sh.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    sh.copy(f"{sf_dir}/events.parquet", src / "b.parquet")
    monitor = str(tmp_path / "monitor")
    ckpt = str(tmp_path / "psi_ckpt")
    r = run_streaming_psi_monitor(
        spark, str(src), sf_dir, monitor, ckpt, max_files_per_trigger=1
    )
    assert len(r["epochs"]) == 2
    n_fixture = load_table(spark, sf_dir, "events").count()
    for row in r["rows"]:
        assert row.n_events == n_fixture
        assert row.psi == 0.0  # identical histograms — exact zero
        assert row.alert is False
    # replay: nothing new to process, monitor unchanged
    r2 = run_streaming_psi_monitor(
        spark, str(src), sf_dir, monitor, ckpt, max_files_per_trigger=1
    )
    assert r2["epochs"] == r["epochs"]
    assert [tuple(x) for x in r2["rows"]] == [tuple(x) for x in r["rows"]]


def test_streaming_psi_monitor_detects_drift_vs_reference(spark, sf_dir, tmp_path):
    """A reference frozen on a narrow slice (values < 50 only)
    against the full stream must alert, and the scored PSI must equal
    an independent pure-Python recomputation from the raw parquet."""
    import math
    from collections import Counter

    import pyarrow.parquet as pq2

    from bigquery_postgres_events_etl_spark.streaming.stream import (
        run_streaming_psi_monitor,
    )

    ref_dir = tmp_path / "psi_ref"
    ref_dir.mkdir()
    full = load_table(spark, sf_dir, "events")
    full.where(F.col("value") < 50).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "ref_tmp")
    )
    import glob
    import shutil as sh

    (part,) = glob.glob(str(tmp_path / "ref_tmp" / "part-*.parquet"))
    sh.copy(part, ref_dir / "events.parquet")

    src = _stage_source(sf_dir, tmp_path)
    monitor = str(tmp_path / "monitor2")
    ckpt = str(tmp_path / "psi_ckpt2")
    r = run_streaming_psi_monitor(spark, src, str(ref_dir), monitor, ckpt)
    (row,) = r["rows"]

    import pytest

    # pure-Python recomputation with the same Laplace smoothing
    vals = pq2.read_table(f"{sf_dir}/events.parquet").to_pandas()["value"]
    cur = Counter((vals // 50).astype("int64"))
    ref = Counter((vals[vals < 50] // 50).astype("int64"))
    bins = set(cur) | set(ref)
    na, nb, k = sum(ref.values()), sum(cur.values()), len(bins)
    psi = sum(
        ((ref.get(b, 0) + 1) / (na + k) - (cur.get(b, 0) + 1) / (nb + k))
        * math.log(
            ((ref.get(b, 0) + 1) / (na + k)) / ((cur.get(b, 0) + 1) / (nb + k))
        )
        for b in bins
    )
    assert row.psi == pytest.approx(psi, rel=1e-9)
    assert row.alert == (row.psi > 0.2)
    assert row.alert  # a collapsed support IS a drift
