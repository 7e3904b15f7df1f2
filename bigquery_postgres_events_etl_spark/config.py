"""Environment configuration — parity with the reference's env-var
surface (.env.example:1-27, flask_server.py:49, 64, 279-289). The
reference's BATCH_SIZE (extract_bq.py:330) has no getter: Spark's JDBC
writer already batches 1000 rows per insert, and a ``jdbc_target``'s
``writer_options={"batchsize": …}`` overrides it.

Every getter reads the environment at call time (not import time) so
tests and long-lived services observe updates; defaults match the
reference's exactly.
"""

from __future__ import annotations

import os


def _int_env(name: str, default: int) -> int:
    raw = os.getenv(name)
    if raw is None or raw.strip() == "":
        return default
    try:
        return int(raw)
    except ValueError:
        return default


def lookback_hours() -> int:
    """ETL_LOOKBACK_HOURS — watermark fallback window (flask_server.py:64)."""
    return _int_env("ETL_LOOKBACK_HOURS", 24)


def timestamp_file() -> str:
    """TIMESTAMP_FILE — watermark store path (flask_server.py:49)."""
    return os.getenv("TIMESTAMP_FILE", "last_timestamp.txt")


def schedule_hour() -> int:
    """ETL_SCHEDULE_HOUR — daily trigger hour (flask_server.py:283).
    Out-of-range values fall back to the default: an invalid hour must
    degrade to 'runs at 02:00', never to 'scheduler thread dies'."""
    h = _int_env("ETL_SCHEDULE_HOUR", 2)
    return h if 0 <= h <= 23 else 2


def schedule_minute() -> int:
    """ETL_SCHEDULE_MINUTE — daily trigger minute (flask_server.py:284)."""
    m = _int_env("ETL_SCHEDULE_MINUTE", 0)
    return m if 0 <= m <= 59 else 0


def service_port() -> int:
    """FLASK_PORT — HTTP control-plane port (.env.example:24)."""
    return _int_env("FLASK_PORT", 5000)
