"""Batch watermark store — Spark-native rebuild of the reference's
file-persisted incremental state (ST1/ST2/ST4).

Reference behavior (flask_server.py:49-79):
- a single µs-epoch int64 in a text file (`TIMESTAMP_FILE`);
- missing/corrupt file → fall back to now − ETL_LOOKBACK_HOURS (24h);
- written only after a successful sink commit, and only forward.

This store keeps those exact semantics for batch-incremental runs
(Structured Streaming runs use checkpointLocation offsets instead —
see streaming.stream). Writes are atomic (tmp + rename) so a crash
mid-write can never corrupt the state into a silent re-window.
"""

from __future__ import annotations

import os
import time


def read_watermark_us(
    path: str,
    lookback_hours: int | None = None,
    now_us: int | None = None,
) -> int:
    """Read the persisted high-water mark; fall back to
    now − lookback (ST2, reference: flask_server.py:52-68). The
    lookback defaults to ETL_LOOKBACK_HOURS from the environment
    (config parity with .env.example:18)."""
    try:
        with open(path) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        if lookback_hours is None:
            from ..config import lookback_hours as _lb

            lookback_hours = _lb()
        if now_us is None:
            now_us = int(time.time() * 1_000_000)
        return now_us - lookback_hours * 3600 * 1_000_000


def write_watermark_us(path: str, value_us: int) -> bool:
    """Advance the watermark — forward-only (ST4, reference:
    flask_server.py:204-207 advances iff max moved). Returns True if
    the file was updated. Atomic rename so readers never observe a
    partial write."""
    try:
        with open(path) as f:
            current = int(f.read().strip())
        if value_us <= current:
            return False
    except (FileNotFoundError, ValueError):
        pass
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(int(value_us)))
    os.replace(tmp, path)
    return True
