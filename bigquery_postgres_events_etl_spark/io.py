"""Fixture table loading.

At 100 TB the source would be a date-partitioned parquet/Delta lake (or
the BigQuery DSv2 connector); reading via ``spark.read.parquet`` keeps
column pruning + predicate/partition pushdown (the Spark-native
equivalent of the reference's `_TABLE_SUFFIX BETWEEN` shard pruning,
reference: extract_bq.py:98-100,110).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _pin_session(spark: SparkSession) -> None:
    """Runtime confs every query needs, applied defensively because the
    driver may hand us a session it built itself.

    - UTC session timezone: the DuckDB oracle reads the fixtures'
      timezone-naive timestamps as-is; Spark must interpret the same
      instants.
    - nanosAsLong: the fixture ``events.ts`` column is parquet
      TIMESTAMP(NANOS), which Spark does not support natively; read the
      raw int64 nanos and convert (see :func:`load_table`).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The fixture writer has flipped between UTC-adjusted and naive
    # parquet timestamps across driver rounds; read naive ones as
    # session-zoned TIMESTAMP (UTC, above) instead of TIMESTAMP_NTZ so
    # µs-epoch extraction (unix_micros) works uniformly and matches the
    # DuckDB oracle's wall-clock reading.
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        # load_table's fallback cast still normalizes NTZ columns, but a
        # path reading parquet directly would leak NTZ — make it visible.
        log.warning(
            "could not disable spark.sql.parquet.inferTimestampNTZ; "
            "relying on load_table's NTZ fallback cast",
            exc_info=True,
        )
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; normalizes ``events.ts`` to TimestampType.

    The ns→µs truncation matches DuckDB's ``CAST(ts AS TIMESTAMP)``
    semantics, so both engines see identical instants.
    """
    _pin_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Belt-and-braces for driver-built sessions where the NTZ-inference
    # conf above could not be applied before the schema was resolved:
    # cast any TIMESTAMP_NTZ column — including ones nested inside
    # struct/array/map columns — to session-zoned TIMESTAMP (UTC),
    # which preserves the stored wall-clock values.
    for f in df.schema.fields:
        fixed = _ntz_to_session_tz(f.dataType)
        if fixed is not f.dataType:
            df = df.withColumn(f.name, F.col(f.name).cast(fixed))
    return df


def _ntz_to_session_tz(dt: T.DataType) -> T.DataType:
    """Recursively replace TimestampNTZType with TimestampType; returns
    the original object unchanged (identity) when nothing needs fixing
    so callers can cheaply skip the cast."""
    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType()
    if isinstance(dt, T.StructType):
        fields = [
            T.StructField(f.name, _ntz_to_session_tz(f.dataType), f.nullable, f.metadata)
            for f in dt.fields
        ]
        if all(a.dataType is b.dataType for a, b in zip(fields, dt.fields)):
            return dt
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        elem = _ntz_to_session_tz(dt.elementType)
        return dt if elem is dt.elementType else T.ArrayType(elem, dt.containsNull)
    if isinstance(dt, T.MapType):
        k, v = _ntz_to_session_tz(dt.keyType), _ntz_to_session_tz(dt.valueType)
        if k is dt.keyType and v is dt.valueType:
            return dt
        return T.MapType(k, v, dt.valueContainsNull)
    return dt


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
