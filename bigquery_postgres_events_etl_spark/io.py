"""Fixture table loading.

At 100 TB the source would be a date-partitioned parquet/Delta lake (or
the BigQuery DSv2 connector); reading via ``spark.read.parquet`` keeps
column pruning + predicate/partition pushdown (the Spark-native
equivalent of the reference's `_TABLE_SUFFIX BETWEEN` shard pruning,
reference: extract_bq.py:98-100,110).

Every table is read with its declared schema (schemas.FIXTURE_SCHEMAS):
no schema-inference job per read. The fixtures store ``events.ts``,
``orders.o_orderdate`` and ``lineitem.l_shipdate`` as parquet
timestamp[us] with ``isAdjustedToUTC=false``; a declared TIMESTAMP reads
them as session-zoned (UTC) timestamps whatever the session's
``inferTimestampNTZ`` setting. The legacy TIMESTAMP(NANOS) layout of
``events.ts`` is still read, via :func:`_ts_is_nanos_int64`.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import FIXTURE_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _pin_session(spark: SparkSession) -> None:
    """Runtime confs every query needs, applied defensively because the
    driver may hand us a session it built itself.

    - UTC session timezone: the DuckDB oracle reads the fixtures'
      timezone-naive timestamps as-is; Spark must interpret the same
      instants.
    - nanosAsLong: a legacy ``events.ts`` stored as parquet
      TIMESTAMP(NANOS) is not supported natively by Spark; read the raw
      int64 nanos and convert (see :func:`read_declared`).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Perf confs (runtime-settable): AQE coalesces the fixture-scale
    # shuffles and splits skewed partitions at cluster scale.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        # AQE coalescing inside cached plans (see session.py) — static
        # in some deployments; the session.py default covers our own
        # sessions and this runtime set covers driver-built ones.
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
    except Exception:
        pass
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass  # immutable under AQE in some configs; AQE coalesce covers it


def _ts_is_nanos_int64(path: str) -> bool:
    """Inspect parquet footers under ``path`` (a file or a directory)
    for the events ``ts`` encoding, from the physical column: INT64
    annotated TIMESTAMP(NANOS), or bare INT64, is the legacy nanos
    layout (Spark reads it as bigint under nanosAsLong and we must div
    1000); INT96 and INT64 annotated TIMESTAMP(MICROS|MILLIS) read as a
    plain TimestampType. Footer-only — no data pages are touched.

    A directory may hold several tables' files; only files that carry
    a top-level ``ts`` column vote, and ALL of them are scanned: a dir
    mixing both encodings (a writer flip mid-stream, combined with
    checkpointed-resume appends) would read one encoding's files under
    the other's explicit schema and silently corrupt event times, so a
    mixed dir raises instead of guessing.
    """
    import pyarrow.parquet as pq

    candidates = (
        [path]
        if os.path.isfile(path)
        else sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    )
    votes: set[bool] = set()
    for f in candidates:
        try:
            sch = pq.ParquetFile(f).schema
        except (OSError, ValueError):
            continue  # vanished or not (yet) a complete parquet file
        col = next((sch.column(i) for i in range(len(sch)) if sch.column(i).path == "ts"), None)
        if col is None or col.physical_type != "INT64":
            continue  # no ts, or INT96: a plain timestamp
        lt = col.logical_type
        votes.add(lt.type != "TIMESTAMP" or json.loads(lt.to_json())["timeUnit"] == "nanoseconds")
    if len(votes) > 1:
        raise ValueError(
            f"mixed ts encodings under {path!r}: some files carry "
            "TIMESTAMP(NANOS)/int64 and others a µs/ms timestamp; a single "
            "explicit schema cannot read both — split the source dir by "
            "encoding or rewrite to one layout"
        )
    return votes.pop() if votes else False  # no nanos-bearing file: modern layout


def read_declared(reader, path: str, name: str) -> DataFrame:
    """Read fixture table ``name`` at ``path`` through ``reader`` (a
    ``spark.read`` or ``spark.readStream``) with its declared schema;
    KeyError for a name outside schemas.FIXTURE_SCHEMAS.

    ``events.ts`` is declared BIGINT on the legacy nanos layout and
    converted to µs TimestampType; the ns→µs truncation matches
    DuckDB's ``CAST(ts AS TIMESTAMP)``, so both engines see identical
    instants. A column whose type differs from the declared one fails
    loudly (PARQUET_COLUMN_DATA_TYPE_MISMATCH); a column the files lack
    reads as NULL.
    """
    ddl = FIXTURE_SCHEMAS[name]
    nanos = name == "events" and _ts_is_nanos_int64(path)
    if nanos:
        ddl = ddl.replace("ts TIMESTAMP", "ts BIGINT")
    df = reader.schema(ddl).parquet(path)
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with its declared schema (see
    :func:`read_declared`)."""
    _pin_session(spark)
    return read_declared(spark.read, os.path.join(sf_dir, f"{name}.parquet"), name)


def parallelize(df: DataFrame) -> DataFrame:
    """Ensure enough input partitions for CPU-bound row-expanding
    operators (shingle explode, per-token hashing).

    A small parquet source arrives as one file split — one task — and
    serializes the whole expansion. One cheap narrow-input shuffle to
    ``defaultParallelism`` buys full-core execution of everything
    downstream. At cluster scale sources already have many splits and
    this is a no-op.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df
