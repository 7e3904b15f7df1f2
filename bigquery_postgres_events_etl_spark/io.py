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
``events.ts`` is still read; :func:`_ts_footers` detects it.
:func:`load_events_after` reads only the events files whose footers
allow a row newer than a watermark: the incremental ETL's shard pruning.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import FIXTURE_SCHEMAS
from .session import SHUFFLE_PARTITIONS

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
        spark.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
    except Exception:
        pass  # immutable under AQE in some configs; AQE coalesce covers it


def _is_hidden(name: str) -> bool:
    """A name Spark's file listing skips: ``_`` (except a ``k=v``
    partition dir) or ``.`` prefixes — a writer's ``_temporary/``,
    ``_SUCCESS``, checksum files — and in-flight ``._COPYING_`` files."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _data_files(path: str) -> tuple[list[str], bool] | None:
    """The files Spark reads under ``path`` (a file or a directory), and
    whether they can be handed to Spark as a file list: ``path`` is a
    file, or a directory with no sub-directory (a nested or partitioned
    layout must be read as a directory to keep its partition columns)
    and no file name that Spark would expand as a glob. None when
    ``path`` is neither a local file nor a local directory."""
    if os.path.isfile(path):
        return [path], True
    if not os.path.isdir(path):
        return None
    files, flat = [], True
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _is_hidden(d))
        flat = flat and not dirs
        for n in sorted(names):
            if not _is_hidden(n):
                files.append(os.path.join(root, n))
                flat = flat and not any(c in n for c in "*?[]{}\\")
    return files, flat


def _ts_max_us(meta, i: int, unit: str | None) -> int | None:
    """The largest ``ts`` of a file as the read path yields it, in µs,
    from column ``i``'s min/max in every row group; None when a row
    group carries no min/max (all NULL, or no stats written) or the
    file has no row group. ``unit`` None is bare INT64 nanos, read as
    ``ts div 1000``; the same truncation toward zero is applied here."""
    hi = None
    for r in range(meta.num_row_groups):
        st = meta.row_group(r).column(i).statistics
        if st is None or not st.has_min_max:
            return None
        hi = st.max_raw if hi is None else max(hi, st.max_raw)
    if hi is None:
        return None
    if unit == "milliseconds":
        return hi * 1000
    if unit == "microseconds":
        return hi
    return hi // 1000 if hi >= 0 else -(-hi // 1000)  # nanos: Spark's div


def _ts_footers(path: str) -> tuple[bool, list[tuple[str, int | None]] | None]:
    """One pass over the parquet footers of the files Spark reads under
    ``path``: the ``ts`` encoding, and each file's largest ``ts``.

    The encoding comes from the physical column: INT64 annotated
    TIMESTAMP(NANOS), or bare INT64, is the legacy nanos layout (Spark
    reads it as bigint under nanosAsLong and we must div 1000); INT96
    and INT64 annotated TIMESTAMP(MICROS|MILLIS) read as a plain
    TimestampType. Footer-only — no data pages are touched.

    A directory may hold several tables' files; only files that carry
    a top-level ``ts`` column vote, and ALL of them are scanned: a dir
    mixing both encodings (a writer flip mid-stream, combined with
    checkpointed-resume appends) would read one encoding's files under
    the other's explicit schema and silently corrupt event times, so a
    mixed dir raises instead of guessing.

    The file list pairs each file with its largest ``ts`` in µs (see
    :func:`_ts_max_us`), or None when the footer cannot bound it: an
    unreadable footer, no ``ts`` column, INT96, another INT64
    annotation, or a row group without min/max. The list itself is
    None when the files must be read as a directory (see
    :func:`_data_files`).
    """
    import pyarrow.parquet as pq

    listing = _data_files(path)
    votes: set[bool] = set()
    maxima: list[tuple[str, int | None]] = []
    for f in listing[0] if listing else []:
        maxima.append((f, None))
        try:
            meta = pq.read_metadata(f)
        except (OSError, ValueError):
            continue  # vanished or not (yet) a complete parquet file
        sch = meta.schema
        i = next((i for i in range(len(sch)) if sch.column(i).path == "ts"), None)
        if i is None or sch.column(i).physical_type != "INT64":
            continue  # no ts, or INT96: a plain timestamp
        lt = sch.column(i).logical_type
        unit = json.loads(lt.to_json())["timeUnit"] if lt.type == "TIMESTAMP" else None
        votes.add(unit in (None, "nanoseconds"))
        if lt.type in ("TIMESTAMP", "NONE"):
            maxima[-1] = (f, _ts_max_us(meta, i, unit))
    if len(votes) > 1:
        raise ValueError(
            f"mixed ts encodings under {path!r}: some files carry "
            "TIMESTAMP(NANOS)/int64 and others a µs/ms timestamp; a single "
            "explicit schema cannot read both — split the source dir by "
            "encoding or rewrite to one layout"
        )
    nanos = votes.pop() if votes else False  # no nanos-bearing file: modern layout
    return nanos, maxima if listing and listing[1] else None


def _read(reader, paths: list[str], name: str, nanos: bool) -> DataFrame:
    """Read ``paths`` with table ``name``'s declared schema (see
    :func:`read_declared`); ``nanos`` picks the legacy ``ts`` layout."""
    ddl = FIXTURE_SCHEMAS[name]
    if nanos:
        ddl = ddl.replace("ts TIMESTAMP", "ts BIGINT")
    df = reader.schema(ddl).parquet(*paths)
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


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
    return _read(reader, [path], name, name == "events" and _ts_footers(path)[0])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with its declared schema (see
    :func:`read_declared`)."""
    _pin_session(spark)
    return read_declared(spark.read, os.path.join(sf_dir, f"{name}.parquet"), name)


def load_events_after(spark: SparkSession, sf_dir: str, watermark_us: int) -> DataFrame | None:
    """The ``events`` table read from only the files that can hold a row
    with ``unix_micros(ts) > watermark_us``; None when every file's
    footer proves none does, so the caller can skip the read.

    Spark cannot prune these files itself: the fixtures' ``ts`` is
    INT64 TIMESTAMP(MICROS) with ``isAdjustedToUTC=false`` read as a
    session-zoned TIMESTAMP, and a pushed ``GreaterThan(ts, …)`` skips
    no row group. The footer pass that decides the encoding
    (:func:`_ts_footers`) already holds each file's max ``ts``, so a
    file is dropped only when that max is ``<= watermark_us``. A path
    that is missing, remote or nested is read whole, as
    :func:`load_table` reads it: a missing one still fails in Spark.
    """
    _pin_session(spark)
    path = os.path.join(sf_dir, "events.parquet")
    nanos, maxima = _ts_footers(path)
    files = [path]
    if maxima is not None:
        files = [f for f, hi in maxima if hi is None or hi > watermark_us]
        if not files:
            return None
    return _read(spark.read, files, "events", nanos)


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
