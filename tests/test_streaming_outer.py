"""Stream-stream LEFT OUTER join: matched rows emit immediately;
unmatched purchases emit with NULL click only after the click-side
watermark passes their join window — driven with two AvailableNow
triggers over a growing file source."""

from __future__ import annotations

import pandas as pd

from bigquery_postgres_events_etl_spark.streaming.stream import (
    read_events_stream,
    streaming_purchase_click_join,
)


def _write_events(spark, path: str, rows: list[tuple]) -> None:
    """rows: (event_id, ts_nanos, user_id, event_type)."""
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type"]
    )
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    spark.createDataFrame(pdf).write.mode("append").parquet(path)


def _h(hours: float) -> int:  # nanos epoch at +hours
    return int(hours * 3600 * 1_000_000_000)


def _run(spark, src, ckpt, out):
    events = read_events_stream(spark, src)
    purchases = events.where("event_type = 'purchase'")
    clicks = events.where("event_type = 'click'")
    joined = streaming_purchase_click_join(purchases, clicks, how="left")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        (r.purchase_id, r.click_id)
        for r in spark.read.parquet(out).collect()
    }


def test_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: user 1 purchase WITH a prior click; user 2 purchase with
    # no click at all
    _write_events(
        spark,
        src,
        [
            (100, _h(1.0), 1, "click"),
            (200, _h(1.5), 1, "purchase"),
            (201, _h(1.5), 2, "purchase"),
        ],
    )
    out = str(tmp_path / "out")
    got1 = _run(spark, src, ckpt, out)
    assert (200, 100) in got1  # matched pair emits in the batch that saw it
    assert all(p != 201 or c is not None for p, c in got1)  # no premature NULL

    # batch 2: much-later events push both side watermarks far past
    # batch 1's windows → the engine can prove purchase 201 is
    # unmatched and must emit it with a NULL click
    _write_events(
        spark,
        src,
        [
            (300, _h(50.0), 3, "click"),
            (301, _h(50.2), 3, "purchase"),
        ],
    )
    got2 = _run(spark, src, ckpt, out)
    assert (201, None) in got2, got2
