"""Structured Streaming variant of the incremental job (SURVEY §7-M3b)
plus streaming window operators.

Where the batch runner re-implements the reference's watermark file,
this variant lets Spark own the state: checkpointed source offsets
replace the µs file (ST1), ``withWatermark`` adds the lateness
allowance the reference lacks (ST7 improvement), ``foreachBatch``
drives the same idempotent sink (ST3), and ``Trigger.AvailableNow``
matches the cron-fired run-to-completion model (ST6).

The parquet-dir source stands in for Kafka/the BigQuery CDC feed:
identical query shape, different ``format()``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.sinks import append_batch


def read_events_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded view of the events source (parquet-dir stand-in).

    Read through the same declared schema and ``ts`` footer probe as
    the batch reader (io.read_declared), so batch and streaming paths
    always see identical event-time instants. The explicit schema (not
    inference) is deliberate: a source dir holding other tables' files
    null-projects them, and flagship filters drop the null rows — same
    semantics as a column-pruned production scan.
    """
    from ..io import _pin_session, read_declared

    _pin_session(spark)
    reader = spark.readStream
    if max_files_per_trigger is not None:
        # bound each micro-batch's input (backpressure for backfills:
        # a month of files arrives as many small exactly-once batches,
        # not one giant one that OOMs the first trigger)
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return read_declared(reader, source_dir, "events")


def streaming_tumbling_counts(
    events: DataFrame, window: str = "1 hour", lateness: str = "30 minutes"
) -> DataFrame:
    """Tumbling event-time aggregation with a watermark — the
    streaming twin of queries_temporal.tumbling_window_hourly.
    State is bounded by the lateness allowance; the reference instead
    silently drops everything at-or-below its watermark (ST7)."""
    return (
        events.withWatermark("ts", lateness)
        # group by the window STRUCT (not .start): append-mode watermark
        # tracking requires the event-time window column in the keys
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,4)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def streaming_dedup_events(
    events: DataFrame,
    keys: list[str] | None = None,
    lateness: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup — the streaming twin of the batch
    ``dedup_exact`` / sink anti-join: drop repeats of the same event
    key arriving within the watermark allowance
    (``dropDuplicatesWithinWatermark``). State is bounded by the
    lateness window — keys older than the watermark are evicted, so
    state size is O(arrival rate × allowance) regardless of stream
    age, unlike a plain ``dropDuplicates`` whose key state grows
    forever. At-least-once upstream delivery (replayed micro-batches,
    duplicated source files) therefore collapses to effective
    exactly-once BEFORE the sink, making downstream aggregations
    correct without per-sink anti-joins.

    The reference has no streaming tier at all — its dedup is the
    PostgreSQL ``ON CONFLICT DO NOTHING`` at insert time
    (extract_bq.py:231-258); this keeps that guarantee while the data
    is still in flight.
    """
    keys = keys or ["event_id"]
    return events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(keys)


def _drain_foreach_batch(stream: DataFrame, checkpoint_dir: str, sink) -> dict:
    """Shared scaffold for every batch-sink streaming leg: streaming
    frame → ``foreachBatch(sink)`` → AvailableNow drain → last-progress
    batch id. The legs differ only in their frame and per-batch sink
    (flagship append to parquet or JDBC / epoch publish / CDC apply /
    PSI record), so the checkpointing and termination mechanics live
    once."""
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.lastProgress
    return {
        "status": "success",
        "batch_id": progress["batchId"] if progress else None,
    }


def _publish_epoch(root: str, epoch_id: int, write) -> None:
    """Epoch-keyed idempotent publish (Spark docs' "idempotent write by
    batchId"): ``write(tmp)`` fills ``root/epoch=<id>.tmp``, then an
    atomic rename publishes it. A replayed epoch (the sink crashed after
    publishing, before the checkpoint commit) is already published and
    is skipped; a stranded ``.tmp`` from a mid-write crash is removed
    first — only the rename publishes."""
    final = os.path.join(root, f"epoch={epoch_id}")
    if os.path.isdir(final):
        return  # replayed epoch — already published, no-op
    tmp = final + ".tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # stranded half-write from a crash
    write(tmp)
    os.rename(tmp, final)  # atomic publish


def _published_epochs(root: str) -> list[str]:
    """The published ``epoch=<id>`` dirs under ``root``, sorted by name.
    A stranded ``*.tmp`` from a crash is never listed, so it is never
    readable as data."""
    if not os.path.isdir(root):
        return []
    return sorted(
        d for d in os.listdir(root) if d.startswith("epoch=") and not d.endswith(".tmp")
    )


def run_streaming_etl(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    tracked: list[str] | None = None,
    jdbc_target: dict | None = None,
) -> dict:
    """Run the flagship pipeline as an AvailableNow streaming query
    with an idempotent foreachBatch sink (effective exactly-once:
    checkpointed offsets + a conflict-skipping append, so a replayed
    micro-batch inserts nothing twice).

    Each micro-batch goes through ``sinks.append_batch``, the batch
    runner's sink call: the parquet target at ``target_path`` by
    default, or the database table that ``jdbc_target`` names (the
    same dict ``run_incremental_etl`` takes) through the JDBC staging
    write + set-based MERGE. A micro-batch the flagship filters leave
    empty stages nothing on the JDBC sink and runs no target
    bootstrap, index DDL or MERGE.

    Returns the drain's status and last batch id, plus the parquet
    target's row count when there is no ``jdbc_target``. Restarting
    with the same checkpoint processes only new files — Spark's native
    version of the watermark file.
    """
    from ..operators.etl import flagship_pipeline

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        out = flagship_pipeline(batch_df, tracked=tracked)
        append_batch(batch_df.sparkSession, out, target_path, jdbc_target)

    res = _drain_foreach_batch(read_events_stream(spark, source_dir), checkpoint_dir, sink)
    if jdbc_target is None:
        res["rows_in_target"] = spark.read.parquet(target_path).count()
    return res


def streaming_purchase_click_join(
    purchases: DataFrame, clicks: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to same-user
    clicks in the preceding ``within`` interval.

    Both sides carry watermarks so Spark can bound the join state
    buffer (clicks older than purchase-watermark − within are
    evicted) — the streaming twin of the batch as-of/range join.
    """
    from pyspark.sql import functions as F

    p = (
        purchases.withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        clicks.withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {within}")),
    ).select("purchase_id", "p_user", "p_ts", "click_id", "c_ts")


def streaming_purchase_click_left_join(
    purchases: DataFrame, clicks: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER join: like the inner variant, but a
    purchase with no click in its window is still emitted (NULL click)
    — *after* the click-side watermark passes the window's end, which
    is when the engine can prove no match will ever arrive. The
    outer-ness is therefore watermark-delayed by design: unmatched
    rows surface in a later micro-batch, not the one that read them
    (tests/test_streaming_outer.py drives two triggers to show it).
    """
    p = purchases.withWatermark("ts", "30 minutes").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = clicks.withWatermark("ts", "30 minutes").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {within}")),
        "leftOuter",
    ).select("purchase_id", "p_user", "p_ts", "click_id", "c_ts")


def streaming_enriched_segment_counts(
    events: DataFrame,
    segments: DataFrame,
    window: str = "1 hour",
    lateness: str = "30 minutes",
) -> DataFrame:
    """Stream-STATIC join + windowed aggregation: each micro-batch of
    the event stream is enriched with a bounded static dimension
    (user → market segment) before the tumbling count. The static
    side is joined per micro-batch with no streaming state at all —
    the standard enrichment shape (dim broadcast each batch, stream
    never buffered for the join) — and only the post-join aggregation
    keeps watermark-bounded state. The batch twin is the same join +
    groupBy over the static reader, which the parity test compares
    against exactly.

    ``segments`` must be bounded (a dimension, not a fact): the hint
    pins the broadcast, so a dimension that grows with the data
    belongs in a stream-stream join instead.
    """
    dim = segments.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        events.withWatermark("ts", lateness)
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", window).alias("win"), "segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "segment", "n_events")
    )


def run_streaming_to_lake(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
) -> dict:
    """Streaming lake sink with EPOCH-KEYED idempotent writes — the
    canonical exactly-once foreachBatch pattern for stores without
    transactions (Spark docs' "idempotent write by batchId"): each
    micro-batch lands in ``target/epoch=<id>`` via write-to-tmp +
    atomic rename, and a replayed epoch (sink crashed after writing
    but before the checkpoint commit) is detected by the directory's
    existence and skipped. Complements run_streaming_etl's anti-join
    dedup: that one dedups by ROW KEY (works with any layout, costs a
    target read per batch); this one dedups by EPOCH (zero read cost,
    requires the epoch-dir layout). A stranded ``.tmp`` from a
    mid-write crash is overwritten by the retry — only the rename
    publishes.
    """
    cleaned = read_events_stream(spark, source_dir).where(F.col("user_id").isNotNull())

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        _publish_epoch(target_dir, epoch_id, batch_df.write.mode("overwrite").parquet)

    _drain_foreach_batch(cleaned, checkpoint_dir, sink)
    epochs = _published_epochs(target_dir)
    return {
        "epochs": epochs,
        "rows_in_target": spark.read.parquet(
            *[os.path.join(target_dir, e) for e in epochs]
        ).count() if epochs else 0,
    }


def run_streaming_cdc_to_lake(
    spark: SparkSession,
    changes_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    changes_schema: str,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Streaming CDC apply: a changelog stream (op ∈ {'I','U','D'}
    rows arriving as files) drives the versioned table — the
    streaming consumer of ``etl_snapshot_diff``'s producer shape and
    the third exactly-once pattern in this module (anti-join dedup by
    ROW KEY, epoch-dir publish by EPOCH, and now an EPOCH LEDGER in
    the table manifest): each micro-batch calls
    ``lakehouse.apply_changelog(..., epoch=batch_id)``, whose ledger
    entry commits in the same atomic manifest publish as the version
    pointer, so a replayed batch (sink crashed after the snapshot
    write, before checkpoint commit) is a no-op and a half-written
    version dir is simply overwritten on retry.

    At 100 TB this is the Delta/Iceberg "merge into from a CDC feed"
    loop rebuilt from primitives: per-batch cost is one keyed join of
    batch × current snapshot (pair with daily partitioning so only
    affected partitions join)."""
    from ..sources.lakehouse import apply_changelog, current_version

    reader = spark.readStream.schema(changes_schema)
    if max_files_per_trigger is not None:
        # a CDC feed is ORDERED: bounding files-per-trigger keeps each
        # producer batch its own epoch (a coalesced epoch spanning two
        # batches could legitimately carry the same key twice and trip
        # the duplicate-key guard, which is per-batch by design)
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    changes = reader.parquet(changes_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_changelog(spark, table_dir, batch_df, key_cols, epoch=epoch_id)

    _drain_foreach_batch(changes, checkpoint_dir, sink)
    return {"version": current_version(table_dir)}


def value_histogram_ref(events: DataFrame, bin_width: float = 50.0) -> DataFrame:
    """(bin, cnt) histogram of a reference window — the frozen
    training-period distribution a stream is monitored against.
    One hash-agg; the result is bounded by |value range| / bin_width,
    not by the data."""
    return events.groupBy(
        F.floor(F.col("value") / F.lit(bin_width)).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def psi_between(ref_hist: DataFrame, cur_hist: DataFrame) -> float:
    """Population Stability Index between two (bin, cnt) histograms,
    Laplace-smoothed (+1 per bin over the union of bins, so a bin seen
    on only one side never divides by zero) — the same math as the
    batch `events_psi_drift` entry. Returns a driver scalar: both
    inputs are constant-bounded bin tables, so the `.first()` fetch is
    bounded metadata, not data movement."""
    j = (
        ref_hist.select("bin", F.col("cnt").alias("a"))
        .join(cur_hist.select("bin", F.col("cnt").alias("b")), "bin", "full")
        .select(
            F.coalesce("a", F.lit(0)).alias("a"),
            F.coalesce("b", F.lit(0)).alias("b"),
        )
    )
    tot = j.agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb"), F.count(F.lit(1)).alias("k")
    )
    p = (F.col("a") + 1).cast("double") / (F.col("na") + F.col("k")).cast("double")
    q = (F.col("b") + 1).cast("double") / (F.col("nb") + F.col("k")).cast("double")
    row = (
        j.crossJoin(F.broadcast(tot))
        .agg(F.sum((p - q) * (F.log(p) - F.log(q))).alias("psi"))
        .first()
    )
    return float(row["psi"] or 0.0)


def run_streaming_psi_monitor(
    spark: SparkSession,
    source_dir: str,
    reference_dir: str,
    monitor_dir: str,
    checkpoint_dir: str,
    bin_width: float = 50.0,
    alert_threshold: float = 0.2,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Streaming model-monitoring: per micro-batch, the PSI of the
    batch's value distribution against a FROZEN reference histogram,
    appended to a monitor table with the same epoch-keyed idempotent
    publish as run_streaming_to_lake (a replayed epoch is a no-op, a
    stranded tmp is overwritten — the monitor never double-counts a
    batch after a crash).

    The reference histogram is computed once per run from
    ``reference_dir`` and persisted (bounded bin table); each batch
    adds one hash-agg over the batch plus a tiny histogram join —
    the monitoring cost is O(batch), independent of stream history.
    Returns the monitor rows (epoch, n_events, psi, alert).
    """
    from ..io import load_table

    ref_hist = value_histogram_ref(
        load_table(spark, reference_dir, "events"), bin_width
    ).persist()
    ref_hist.count()  # materialize once before the stream starts

    events = read_events_stream(spark, source_dir, max_files_per_trigger)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        def write(tmp: str) -> None:
            psi = psi_between(ref_hist, value_histogram_ref(batch_df, bin_width))
            n = batch_df.count()
            row = batch_df.sparkSession.createDataFrame(
                [(int(epoch_id), int(n), float(psi), bool(psi > alert_threshold))],
                "epoch BIGINT, n_events BIGINT, psi DOUBLE, alert BOOLEAN",
            )
            row.coalesce(1).write.mode("overwrite").parquet(tmp)

        _publish_epoch(monitor_dir, epoch_id, write)

    _drain_foreach_batch(events, checkpoint_dir, sink)
    ref_hist.unpersist()
    epochs = _published_epochs(monitor_dir)
    rows = (
        spark.read.parquet(*[os.path.join(monitor_dir, e) for e in epochs])
        .orderBy("epoch")
        .collect()
        if epochs
        else []
    )  # bounded: one row per micro-batch epoch
    return {"epochs": epochs, "rows": rows}
