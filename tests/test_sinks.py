"""Sink contract tests: CSV header parity (K1), idempotent append
(K4/K5)."""

from __future__ import annotations

import glob

from bigquery_postgres_events_etl_spark.io import load_table
from bigquery_postgres_events_etl_spark.operators.etl import flagship_pipeline
from bigquery_postgres_events_etl_spark.schemas import CSV_EXPORT_COLUMNS
from bigquery_postgres_events_etl_spark.sources.sinks import (
    export_csv,
    idempotent_append_parquet,
)


def test_csv_header_golden(spark, sf_dir, tmp_path):
    """K1 golden-file check: exact header line of extract_bq.py:149."""
    out = flagship_pipeline(load_table(spark, sf_dir, "events"))
    path = str(tmp_path / "export")
    written = export_csv(out, path, single_file=True)
    parts = glob.glob(f"{path}/part-*.csv")
    assert len(parts) == 1
    with open(parts[0]) as f:
        header = f.readline().strip()
    assert header == "user_id,event_date,event_timestamp,event_name,event_id,event_name_detail"
    assert CSV_EXPORT_COLUMNS == header.split(",")
    # the returned count comes from the write job and matches the file
    back = spark.read.option("header", True).option("multiLine", True).csv(path)
    assert written == back.count() == out.count() > 0


def test_idempotent_append(spark, sf_dir, tmp_path):
    """K4: writing the same batch twice inserts zero the second time
    and leaves the target row count unchanged (README.md:148)."""
    batch = flagship_pipeline(load_table(spark, sf_dir, "events"))
    target = str(tmp_path / "t")
    n1 = idempotent_append_parquet(spark, batch, target)
    assert n1 == batch.count() > 0
    n2 = idempotent_append_parquet(spark, batch, target)
    assert n2 == 0
    assert spark.read.parquet(target).count() == n1


def test_idempotent_append_partial_overlap(spark, sf_dir, tmp_path):
    """K4: an overlapping batch inserts only its new keys."""
    from pyspark.sql import functions as F

    batch = flagship_pipeline(load_table(spark, sf_dir, "events"))
    old = batch.where(F.col("event_timestamp") % 2 == 0)
    target = str(tmp_path / "t")
    n_old = idempotent_append_parquet(spark, old, target)
    n_all = idempotent_append_parquet(spark, batch, target)
    assert n_old + n_all == batch.count()
    assert spark.read.parquet(target).count() == batch.count()


def test_first_load_is_decided_from_the_filesystem(spark, sf_dir, tmp_path, monkeypatch):
    """A first load never asks Spark to read the missing target (a
    failed read logs Spark's PATH_NOT_FOUND stack traces); the next
    append reads it and inserts nothing."""
    from pyspark.sql.readwriter import DataFrameReader

    reads = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        reads.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    batch = flagship_pipeline(load_table(spark, sf_dir, "events"))
    target = str(tmp_path / "t")

    assert idempotent_append_parquet(spark, batch, target) == batch.count() > 0
    assert target not in reads
    assert idempotent_append_parquet(spark, batch, target) == 0
    assert target in reads


def test_unreadable_target_still_raises(spark, sf_dir, tmp_path):
    """Only a missing target is a first load: a corrupt file in an
    existing one fails the append and commits nothing."""
    import os

    import pytest

    batch = flagship_pipeline(load_table(spark, sf_dir, "events"))
    target = tmp_path / "t"
    n = idempotent_append_parquet(spark, batch, str(target))
    (target / "part-99999-corrupt.parquet").write_bytes(b"PAR1 not parquet")
    files = sorted(os.listdir(target))

    with pytest.raises(Exception):
        idempotent_append_parquet(spark, batch, str(target))
    assert sorted(os.listdir(target)) == files
    os.remove(target / "part-99999-corrupt.parquet")
    assert spark.read.parquet(str(target)).count() == n


def test_bigquery_reader_options():
    """Connector config parity: shard-suffix filter matches the
    reference's `_TABLE_SUFFIX BETWEEN` construction."""
    from bigquery_postgres_events_etl_spark.sources.connectors import (
        BigQueryEventsSource,
    )

    src = BigQueryEventsSource("proj", "analytics_1")
    opts = src.reader_options("2024-01-05", "2024-01-10")
    assert opts["table"] == "proj.analytics_1.events_*"
    assert opts["filter"] == "_TABLE_SUFFIX BETWEEN '20240105' AND '20240110'"


def test_jdbc_reader_options():
    from bigquery_postgres_events_etl_spark.sources.connectors import (
        JdbcTableSource,
    )

    src = JdbcTableSource("jdbc:postgresql://h:5432/db", "application_events", "u")
    opts = src.reader_options(0, 1_000_000)
    assert opts["numPartitions"] == "8"
    assert opts["partitionColumn"] == "id"
    assert opts["pushDownPredicate"] == "true"


def test_idempotent_append_partitioned(spark, sf_dir, tmp_path):
    """Partitioned target: rerun inserts 0 and the anti-join prunes to
    the batch's own event_date partitions."""
    batch = flagship_pipeline(load_table(spark, sf_dir, "events"))
    target = str(tmp_path / "t")
    n1 = idempotent_append_parquet(
        spark, batch, target, partition_by=["event_date"]
    )
    assert n1 == batch.count() > 0
    n2 = idempotent_append_parquet(
        spark, batch, target, partition_by=["event_date"]
    )
    assert n2 == 0
    assert spark.read.parquet(target).count() == n1


def test_write_training_shards_layout(spark, sf_dir, tmp_path):
    """Dataloader-shard export contract: row-complete, file row caps
    respected, rows inside every file ordered by the sort key, and
    shard membership deterministic (hash of the shard column — a
    re-export reproduces identical per-shard contents)."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bigquery_postgres_events_etl_spark.io import load_table
    from bigquery_postgres_events_etl_spark.operators.pipeline import pack_sequences
    from bigquery_postgres_events_etl_spark.sources.sinks import write_training_shards

    packed = pack_sequences(load_table(spark, sf_dir, "documents"))
    path = str(tmp_path / "shards")
    stats = write_training_shards(
        packed, path, shard_col="first_bin", n_shards=8,
        order_cols=["first_bin", "start_offset"], max_records_per_file=40,
    )
    assert stats["rows"] == packed.count() > 0
    assert stats["files"] >= 8

    files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ]
    total = 0
    for f in files:
        t = pq.read_table(f)
        assert t.num_rows <= 40  # maxRecordsPerFile respected
        total += t.num_rows
        key = list(zip(
            t.column("first_bin").to_pylist(), t.column("start_offset").to_pylist()
        ))
        assert key == sorted(key)  # in-file ordering
    assert total == stats["rows"]

    # determinism: re-export, compare the multiset of (shard-hash →
    # sorted row keys) — hash routing may shuffle file names, but the
    # per-shard contents must be identical
    def shard_contents(p):
        by_shard = {}
        out = spark.read.parquet(p).select("doc_id", "first_bin").collect()
        for r in out:
            by_shard.setdefault(r.first_bin, []).append(r.doc_id)
        return {k: sorted(v) for k, v in by_shard.items()}

    path2 = str(tmp_path / "shards2")
    write_training_shards(
        packed, path2, shard_col="first_bin", n_shards=8,
        order_cols=["first_bin", "start_offset"], max_records_per_file=40,
    )
    assert shard_contents(path) == shard_contents(path2)


def test_daily_partition_overwrite_is_dynamic(spark, sf_dir, tmp_path):
    """Rewriting ONE day must replace exactly that day's partition and
    leave every other day's files byte-identical (static overwrite
    would truncate the table)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bigquery_postgres_events_etl_spark.io import load_table
    from bigquery_postgres_events_etl_spark.sources.sinks import (
        write_daily_partitions,
    )

    e = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "lake")
    r = write_daily_partitions(e, path)
    assert len(r["days_written"]) > 1
    day0 = r["days_written"][0]
    other_files_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/day=*/*.parquet")
        if f"day={day0}" not in f
    }
    total_before = spark.read.parquet(path).count()

    # backfill day0 only, with a marker transformation
    day0_rows = e.where(F.col("ts").cast("date") == F.lit(day0)).withColumn(
        "value", F.lit(0.0)
    )
    write_daily_partitions(day0_rows, path)

    back = spark.read.parquet(path)
    assert back.count() == total_before  # nothing truncated
    assert (
        back.where(F.col("day") == F.lit(day0))
        .agg(F.sum(F.abs("value")))
        .first()[0]
        == 0.0
    )  # day0 replaced
    other_files_after = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/day=*/*.parquet")
        if f"day={day0}" not in f
    }
    assert other_files_after == other_files_before  # untouched partitions
