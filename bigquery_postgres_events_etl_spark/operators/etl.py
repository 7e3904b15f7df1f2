"""The flagship ETL pipeline — Spark-native rebuild of the reference's
extract→transform→dedup→load path (SURVEY §7-M1).

Reference lifecycle (extract_bq.py:86-185 / flask_server.py:142-196):
SQL pushed to BigQuery (projection P1, filters F1-F4, shard pruning S2,
sort O1/O2) → full driver materialization (anti-pattern S3) →
row-at-a-time param extraction (P2) → CSV or batched ON-CONFLICT
Postgres insert (K1-K4).

Spark rebuild: one declarative DataFrame plan. Catalyst pushes the
filters and the 4-column projection into the parquet scan; the dedup is
a single shuffle on the dedup key; nothing ever reaches the driver.
At 100 TB: the scan prunes date partitions (the watermark predicate is
also a partition predicate), the dedup shuffle is the only exchange,
and the survivor-selection window is a partial-aggregatable pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..schemas import FIXTURE_TRACKED_EVENTS


def _sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def valid_user_filter(df: DataFrame, user_col: str = "user_id") -> DataFrame:
    """F1+F2 — reject NULL and empty-string user ids
    (reference: extract_bq.py:111-112).

    The fixture ``user_id`` is numeric, so the ``!= ''`` arm only
    applies to string-typed columns (the reference's contract).
    """
    cond = f"`{user_col}` IS NOT NULL"
    if dict(df.dtypes).get(user_col) == "string":
        cond += f" AND `{user_col}` != ''"
    return df.where(cond)


def tracked_events_filter(df: DataFrame, events: list[str], col: str = "event_type") -> DataFrame:
    """F3 — set-membership filter (reference: extract_bq.py:89-93,113)."""
    if not events:
        return df.where("false")  # SQL has no empty IN list
    return df.where(f"`{col}` IN ({', '.join(map(_sql_str, events))})")


def watermark_filter(df: DataFrame, watermark_us: int, ts_col: str = "ts") -> DataFrame:
    """F4 — only rows strictly newer than the persisted high-water mark
    (reference: flask_server.py:151). Source files the watermark rules
    out are skipped before the read — see io.load_events_after.
    """
    return df.where(f"unix_micros(`{ts_col}`) > {int(watermark_us)}")


def date_range_filter(df: DataFrame, date_from: str, date_to: str, ts_col: str = "ts") -> DataFrame:
    """S2/F5 — inclusive date-range pruning, the Spark-native equivalent
    of `_TABLE_SUFFIX BETWEEN` (reference: extract_bq.py:98-100,110).
    On a date-partitioned lake this is partition pruning, not a scan.
    """
    day = f"to_date(`{ts_col}`)"
    return df.where(f"{day} >= {_sql_str(date_from)} AND {day} <= {_sql_str(date_to)}")


def dedup_application_events(
    df: DataFrame,
    keys: list[str],
    order_col: str = "event_id",
    numeric_order: bool = True,
) -> DataFrame:
    """K4 — conflict-skipping dedup with a deterministic survivor.

    The reference's `ON CONFLICT DO NOTHING` keeps the first-arriving
    row (extract_bq.py:216-221); `dropDuplicates` keeps an arbitrary
    one. For oracle-reproducible semantics we keep the row with the
    smallest ``order_col`` via row_number — same single shuffle as
    dropDuplicates, deterministic survivor (SURVEY §7 risk 3).

    ``numeric_order`` pins the tie-break to the NUMERIC id even after
    the projection has cast event_id to its string output shape: ids
    are assigned in arrival order, so numeric-min IS first-arriving —
    while string order ranks "10" before "2". The r14 constant-
    timestamp sweep caught the divergence: the oracle's window bound
    to the source BIGINT while the engine ordered the VARCHAR
    projection, and the two minima coincide only while collision
    groups are small (every driver fixture — the latent-bug shape).
    """
    order = f"CAST(`{order_col}` AS BIGINT)" if numeric_order else f"`{order_col}`"
    part = ", ".join(f"`{k}`" for k in keys)
    return (
        df.selectExpr("*", f"row_number() OVER (PARTITION BY {part} ORDER BY {order} ASC) AS __rn")
        .where("__rn = 1")
        .drop("__rn")
    )


def flagship_pipeline(
    events: DataFrame,
    tracked: list[str] | None = None,
    watermark_us: int | None = None,
    date_from: str | None = None,
    date_to: str | None = None,
) -> DataFrame:
    """End-to-end rebuild of the reference extract (EP1/EP2):

    scan → F1/F2 valid-user → F3 tracked-events → [F4 watermark |
    S2 date range] → P2 param extraction (JSON variant on fixture
    ``props``) → P1 projection to the ``application_events`` shape →
    K4 deterministic dedup on (user_id, event_timestamp, event_name).

    Output columns mirror the reference CSV header
    (extract_bq.py:149): user_id, event_date, event_timestamp (raw µs
    int64 end-to-end — SURVEY §7 risk 2), event_name, event_id,
    event_name_detail.
    """
    tracked = tracked if tracked is not None else FIXTURE_TRACKED_EVENTS
    # SQL-string builds, one filter per where: a Column-DSL chain costs
    # an order of magnitude more py4j round trips for the same plan
    df = valid_user_filter(events)
    df = tracked_events_filter(df, tracked)
    if watermark_us is not None:
        df = watermark_filter(df, watermark_us)
    if date_from is not None and date_to is not None:
        df = date_range_filter(df, date_from, date_to)
    df = df.selectExpr(
        "user_id",
        "to_date(ts) AS event_date",
        "unix_micros(ts) AS event_timestamp",
        "event_type AS event_name",
        "CAST(event_id AS STRING) AS event_id",
        "get_json_object(props, '$.k') AS event_name_detail",
    )
    return dedup_application_events(
        df, ["user_id", "event_timestamp", "event_name"], order_col="event_id"
    )
