"""SparkSession factory.

Local-mode defaults tuned for the fixture scale factors; the same
settings (AQE, skew-join handling, partition coalescing) are the ones
that matter on a real multi-executor cluster at 100 TB — only
``shuffle.partitions`` would be sized up (≈2-3× total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.shuffle.partitions for every session, ours or one handed to
# io._pin_session; AQE coalesces it down at fixture scale
SHUFFLE_PARTITIONS = 32


def get_spark(app_name: str = "bq-pg-events-etl-spark") -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing of shuffle partitions + skew-join
      splitting, which replaces hand-tuning at varying data scales.
    - UTC session timezone: fixture timestamps are timezone-naive; the
      DuckDB oracle compares wall-clock values, so both engines must
      agree on the zone.
    - Arrow on: vectorized pandas interchange for the (rare) Pandas-UDF
      operators (multimodal plumbing).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r14 optimization: let AQE coalesce INSIDE cached plans too
        # (off by default). The iterative operators persist() small
        # keyed slivers (graph adjacency, NB token counts, dedup
        # signatures); without this the cache pins the raw
        # shuffle.partitions count and every iteration job relaunches
        # that many tasks over KB-sized cached data. With it the
        # cached partitioning follows AQE's advisory size — few
        # partitions at fixture scale, proportionally many at 100 TB
        # (scale-adaptive by construction, guide §2.2). Downstream
        # exchange-free groupBys still hold: hash partitioning on the
        # same key satisfies the clustered distribution at ANY
        # partition count.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
