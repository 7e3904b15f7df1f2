"""Fixture timestamp-encoding regression tests.

The driver's fixture writer has flipped the events ``ts`` column
between parquet TIMESTAMP(NANOS)-as-int64 and naive timestamp[us]
across rounds; each flip previously surfaced as several mysterious
event-time test failures. These tests pin the invariant directly: the
batch reader (io.load_table) and the streaming reader
(streaming.stream.read_events_stream) must produce IDENTICAL ``ts``
instants for the same file, under either encoding, and those instants
must live in a plausible epoch range (catching a 1000× compression
into January 1970).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from bigquery_postgres_events_etl_spark.io import load_table
from bigquery_postgres_events_etl_spark.streaming.stream import read_events_stream

EPOCH_2000_US = 946_684_800 * 1_000_000


def _drain_minmax(spark, src: str, name: str):
    """Drain the streaming reader over ``src`` and return (min, max)
    unix_micros of the normalized ts column."""
    stream = read_events_stream(spark, src).select(
        F.unix_micros("ts").alias("us")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.sql(f"SELECT min(us) AS lo, max(us) AS hi FROM {name}").first()
    return row.lo, row.hi


def test_batch_and_stream_agree_on_current_fixture(spark, sf_dir, tmp_path):
    """Whatever encoding the current fixtures use, batch and streaming
    readers must see the same instants, in a sane epoch range."""
    batch = load_table(spark, sf_dir, "events")
    b = batch.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).first()

    src = tmp_path / "enc_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    lo, hi = _drain_minmax(spark, str(src), "enc_current_out")

    assert (lo, hi) == (b.lo, b.hi)
    assert b.lo > EPOCH_2000_US  # not compressed into 1970


def test_stream_reader_handles_legacy_nanos_fixture(spark, sf_dir, tmp_path):
    """Rewrite the current fixture as TIMESTAMP(NANOS) parquet (the
    pre-r3 driver layout) and assert the streaming reader's footer
    probe picks the nanos branch and lands on the same instants."""
    table = pq.read_table(f"{sf_dir}/events.parquet")
    idx = table.schema.get_field_index("ts")
    ts_type = table.schema.field("ts").type
    if not pa.types.is_timestamp(ts_type):
        # already int64 — cast through us-timestamp first
        table = table.set_column(
            idx, "ts", table.column("ts").cast(pa.timestamp("us"))
        )
    nanos = table.set_column(
        idx, "ts", table.column("ts").cast(pa.timestamp("ns"))
    )
    src = tmp_path / "nanos_src"
    src.mkdir()
    pq.write_table(nanos, src / "events.parquet", store_schema=False)

    batch = load_table(spark, sf_dir, "events")
    b = batch.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).first()
    lo, hi = _drain_minmax(spark, str(src), "enc_nanos_out")

    assert (lo, hi) == (b.lo, b.hi)
    assert lo > EPOCH_2000_US


def test_stream_reader_rejects_mixed_encoding_dir(spark, sf_dir, tmp_path):
    """A source dir mixing TIMESTAMP(NANOS)/int64 and timestamp[us]
    files (writer flip mid-stream + checkpointed-resume appends) cannot
    be read under one explicit schema — the probe must raise rather
    than silently corrupt the other encoding's event times."""
    import pytest

    from bigquery_postgres_events_etl_spark.io import _ts_footers

    table = pq.read_table(f"{sf_dir}/events.parquet")
    idx = table.schema.get_field_index("ts")
    if not pa.types.is_timestamp(table.schema.field("ts").type):
        table = table.set_column(
            idx, "ts", table.column("ts").cast(pa.timestamp("us"))
        )
    src = tmp_path / "mixed_src"
    src.mkdir()
    pq.write_table(table, src / "part-0.parquet")  # timestamp[us]
    pq.write_table(
        table.set_column(idx, "ts", table.column("ts").cast(pa.timestamp("ns"))),
        src / "part-1.parquet",
        store_schema=False,
    )  # TIMESTAMP(NANOS)

    with pytest.raises(ValueError, match="mixed ts encodings"):
        _ts_footers(str(src))
    with pytest.raises(ValueError, match="mixed ts encodings"):
        read_events_stream(spark, str(src))


def _nanos_rewrite(sf_dir: str) -> pa.Table:
    """The µs fixture's events with ``ts`` recast to TIMESTAMP(NANOS)."""
    table = pq.read_table(f"{sf_dir}/events.parquet")
    idx = table.schema.get_field_index("ts")
    return table.set_column(idx, "ts", table.column("ts").cast(pa.timestamp("ns")))


def _ts_stats(df):
    us = F.unix_micros("ts")
    row = df.agg(F.min(us).alias("lo"), F.max(us).alias("hi"), F.count(us).alias("n")).first()
    return row.lo, row.hi, row.n


def test_batch_and_stream_agree_on_spark_written_events(spark, sf_dir, tmp_path):
    """Spark writes timestamps as INT96 by default, which pyarrow reports
    as timestamp[ns]; the footer probe must read the physical type and
    not mistake it for the legacy int64-nanos layout."""
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        load_table(spark, sf_dir, "events").write.parquet(str(tmp_path / "events.parquet"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    lo, hi, n = _ts_stats(load_table(spark, str(tmp_path), "events"))
    stream = read_events_stream(spark, str(tmp_path / "events.parquet")).select(
        F.unix_micros("ts").alias("us")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("enc_int96_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    s = spark.sql("SELECT min(us) AS lo, max(us) AS hi, count(us) AS n FROM enc_int96_out").first()

    assert (s.lo, s.hi, s.n) == (lo, hi, n)
    assert (lo, hi, n) == _ts_stats(load_table(spark, sf_dir, "events"))
    assert lo > EPOCH_2000_US


def test_load_table_reads_legacy_nanos_fixture(spark, sf_dir, tmp_path):
    """The batch reader lands a TIMESTAMP(NANOS) rewrite on the same
    instants as the µs fixture."""
    pq.write_table(_nanos_rewrite(sf_dir), tmp_path / "events.parquet", store_schema=False)

    got = load_table(spark, str(tmp_path), "events")

    assert dict(got.dtypes)["ts"] == "timestamp"
    assert _ts_stats(got) == _ts_stats(load_table(spark, sf_dir, "events"))


def test_load_table_rejects_mixed_encoding_dir(spark, sf_dir, tmp_path):
    import pytest

    src = tmp_path / "events.parquet"
    src.mkdir()
    pq.write_table(pq.read_table(f"{sf_dir}/events.parquet"), src / "part-0.parquet")
    pq.write_table(_nanos_rewrite(sf_dir), src / "part-1.parquet", store_schema=False)

    with pytest.raises(ValueError, match="mixed ts encodings"):
        load_table(spark, str(tmp_path), "events")


def test_load_table_ignores_ntz_inference(spark, sf_dir):
    """Declared TIMESTAMP columns read the fixtures' naive timestamps as
    session-zoned timestamps even when the session would infer them as
    TIMESTAMP_NTZ, with the stored wall-clock instants unchanged."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        for t, c in (("events", "ts"), ("lineitem", "l_shipdate")):
            df = load_table(spark, sf_dir, t).select(c)
            assert df.dtypes == [(c, "timestamp")]
            us = F.unix_micros(c)
            row = df.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).first()
            stored = pq.read_table(f"{sf_dir}/{t}.parquet", columns=[c]).column(c).cast(pa.int64())
            assert (row.lo, row.hi) == (pc.min(stored).as_py(), pc.max(stored).as_py())
    finally:
        spark.conf.set(key, prev)


def test_declared_schemas_match_inferred(spark, sf_dir, tmp_path):
    """schemas.FIXTURE_SCHEMAS is what Spark infers (naive timestamps as
    TIMESTAMP) for every fixture table at every scale and for the
    perfbench generator's tables, so reading with it changes no type."""
    from perfbench.gen import write_analytics

    from bigquery_postgres_events_etl_spark.schemas import FIXTURE_SCHEMAS

    write_analytics(7, 0.001, str(tmp_path))
    root = os.path.dirname(sf_dir)
    dirs = [os.path.join(root, f"sf{sf}") for sf in ("0.001", "0.01", "0.1")] + [str(tmp_path)]
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for d in dirs:
            for t, ddl in FIXTURE_SCHEMAS.items():
                inferred = spark.read.parquet(f"{d}/{t}.parquet").schema
                assert inferred == spark.createDataFrame([], ddl).schema, (d, t)
    finally:
        spark.conf.set(key, prev)
